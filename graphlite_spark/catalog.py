"""Graph catalog: schemas → graphs → node/edge tables, with optional
parquet persistence.

Mirrors the reference's catalog hierarchy (CatalogPath `/schema/graph`,
GraphLite `graphlite/src/ast/ast.rs:726-740`, multi-graph management
`storage/multi_graph.rs`), re-based on Parquet: a persisted graph is a
directory of typed tables plus a small JSON manifest — Spark-native
storage instead of Sled KV (`storage/persistent/sled.rs`).

Node/edge identity for DML-created entities is a content hash of
labels + sorted properties, mirroring the reference's id scheme
(`graphlite/src/exec/write_engine/operations/insert.rs:87-135`).
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any, Optional

from pyspark.sql import SparkSession

from .graph import PropertyGraph


def content_hash_id(labels: list[str], props: dict[str, Any]) -> str:
    """Deterministic entity id: sha256 over labels + sorted properties
    (insert.rs:87-135 uses the same labels+props recipe)."""
    payload = "|".join(sorted(labels)) + "||" + "|".join(
        f"{k}={props[k]!r}" for k in sorted(props)
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


class CatalogError(KeyError):
    pass


class GraphCatalog:
    """schemas → graphs; in-memory with optional parquet root."""

    def __init__(self, spark: SparkSession, root: Optional[str] = None):
        self.spark = spark
        self.root = root
        self.schemas: dict[str, dict[str, PropertyGraph]] = {"default": {}}
        self._schema_meta: dict[str, dict] = {"default": self._now_meta()}
        if root:
            os.makedirs(root, exist_ok=True)
            self._load_manifest()

    # -- paths ---------------------------------------------------------------
    @staticmethod
    def split_path(path: str) -> tuple[str, Optional[str]]:
        """'/schema/graph' | 'schema/graph' | 'graph' → (schema, graph?)."""
        parts = [p for p in path.split("/") if p]
        if len(parts) == 1:
            return "default", parts[0]
        if len(parts) == 2:
            return parts[0], parts[1]
        raise CatalogError(f"bad catalog path {path!r}")

    # -- schemas ---------------------------------------------------------------
    def create_schema(self, name: str, if_not_exists: bool = False) -> None:
        name = name.strip("/")
        if name in self.schemas:
            if if_not_exists:
                return
            raise CatalogError(f"schema {name!r} exists")
        self.schemas[name] = {}
        self._schema_meta[name] = self._now_meta()
        self._save_manifest()

    @staticmethod
    def _now_meta() -> dict:
        import datetime

        ts = datetime.datetime.now(datetime.timezone.utc).isoformat()
        return {"created_at": ts, "modified_at": ts}

    def schema_meta(self, name: str) -> dict:
        """created_at/modified_at for gql.list_schemas YIELD columns
        (system_procedures.rs:7); modified_at bumps on graph DDL."""
        return self._schema_meta.setdefault(name.strip("/"), self._now_meta())

    def _touch_schema(self, name: str) -> None:
        import datetime

        meta = self.schema_meta(name)
        meta["modified_at"] = datetime.datetime.now(
            datetime.timezone.utc
        ).isoformat()

    def drop_schema(self, name: str, if_exists: bool = False) -> None:
        name = name.strip("/")
        if name not in self.schemas:
            if if_exists:
                return
            raise CatalogError(f"no schema {name!r}")
        del self.schemas[name]
        self._save_manifest()

    def list_schemas(self) -> list[str]:
        return sorted(self.schemas)

    # -- graphs ---------------------------------------------------------------
    def create_graph(self, path: str, graph: Optional[PropertyGraph] = None,
                     if_not_exists: bool = False) -> PropertyGraph:
        schema, gname = self.split_path(path)
        if schema not in self.schemas:
            raise CatalogError(f"no schema {schema!r}")
        if gname in self.schemas[schema]:
            if if_not_exists:
                return self.schemas[schema][gname]
            raise CatalogError(f"graph {path!r} exists")
        g = graph or PropertyGraph(self.spark, name=gname)
        self.schemas[schema][gname] = g
        self._touch_schema(schema)
        self._save_manifest()
        return g

    def drop_graph(self, path: str, if_exists: bool = False) -> None:
        schema, gname = self.split_path(path)
        if schema not in self.schemas or gname not in self.schemas[schema]:
            if if_exists:
                return
            raise CatalogError(f"no graph {path!r}")
        del self.schemas[schema][gname]
        self._touch_schema(schema)
        self._save_manifest()

    def get_graph(self, path: str) -> PropertyGraph:
        schema, gname = self.split_path(path)
        try:
            return self.schemas[schema][gname]
        except KeyError:
            raise CatalogError(f"no graph {path!r}") from None

    def has_graph(self, path: str) -> bool:
        try:
            self.get_graph(path)
            return True
        except CatalogError:
            return False

    def list_graphs(self, schema: Optional[str] = None) -> list[str]:
        out = []
        for s, graphs in sorted(self.schemas.items()):
            if schema and s != schema:
                continue
            out.extend(f"/{s}/{g}" for g in sorted(graphs))
        return out

    def graph_union(self, paths: list[str], name: str = "union") -> PropertyGraph:
        """Union graphs label-by-label (multi_graph.rs create_graph_union,
        storage_manager.rs:400): same-label node tables union by name with
        schema merge; same-type edge tables likewise."""
        out = PropertyGraph(self.spark, name=name)
        merged = {}
        for path in paths:
            for key, t in self.get_graph(path).tables.items():
                cur = merged.get(key)
                if cur is None:
                    merged[key] = t.over(t.view)
                    continue
                df = cur.view.unionByName(t.view, allowMissingColumns=True)
                merged[key] = cur.over(df if key[0] else df.dropDuplicates(["_id"]))
        out.publish(merged)
        return out

    # -- persistence --------------------------------------------------------
    def _graph_dir(self, schema: str, gname: str) -> str:
        return os.path.join(self.root, schema, gname)

    def save_graph(self, path: str) -> None:
        """Write a graph's tables + manifest under the catalog root."""
        if not self.root:
            raise CatalogError("catalog has no persistence root")
        schema, gname = self.split_path(path)
        g = self.get_graph(path)
        d = self._graph_dir(schema, gname)
        os.makedirs(d, exist_ok=True)
        meta = {"name": gname, "nodes": [], "edges": []}
        for label, df in g.nodes.items():
            df.write.mode("overwrite").parquet(os.path.join(d, f"nodes__{label}"))
            meta["nodes"].append(label)
        for ename, et in g.edges.items():
            et.df.write.mode("overwrite").parquet(os.path.join(d, f"edges__{ename}"))
            meta["edges"].append(
                {"name": ename, "src": et.src_label, "dst": et.dst_label}
            )
        with open(os.path.join(d, "_graph.json"), "w") as f:
            json.dump(meta, f)
        self._save_manifest()

    def load_graph(self, path: str) -> PropertyGraph:
        if not self.root:
            raise CatalogError("catalog has no persistence root")
        schema, gname = self.split_path(path)
        d = self._graph_dir(schema, gname)
        with open(os.path.join(d, "_graph.json")) as f:
            meta = json.load(f)
        g = PropertyGraph(self.spark, name=gname)
        for label in meta["nodes"]:
            df = self.spark.read.parquet(os.path.join(d, f"nodes__{label}"))
            g.add_nodes(label, df, "_id")
        for e in meta["edges"]:
            df = self.spark.read.parquet(os.path.join(d, f"edges__{e['name']}"))
            g.add_edges(e["name"], df, "_src", "_dst", e["src"], e["dst"])
        self.schemas.setdefault(schema, {})[gname] = g
        return g

    # -- bucketed persistence (co-located joins at scale) --------------------
    def save_graph_bucketed(self, path: str, buckets: int = 16) -> None:
        """Persist via the table catalog with bucketing: node tables
        bucketed by ``_id``, edge tables by ``_src``. An Expand join
        (edges._src == nodes._id) over two tables bucketed into the same
        count then needs NO shuffle on either side — this is the layout a
        100 TB deployment wants (SURVEY §4.2 partitioning row).
        """
        schema, gname = self.split_path(path)
        g = self.get_graph(path)
        meta = {"name": gname, "buckets": buckets, "nodes": [], "edges": []}

        def _prep(t: str) -> None:
            # in-memory catalogs forget tables across sessions but leave the
            # warehouse dir behind; clear both before (re)creating
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
            wh = self.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            import shutil

            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

        for label, df in g.nodes.items():
            t = self._bucket_table(schema, gname, "nodes", label)
            _prep(t)
            (
                df.write.mode("overwrite")
                .bucketBy(buckets, "_id")
                .sortBy("_id")
                .saveAsTable(t)
            )
            meta["nodes"].append(label)
        for ename, et in g.edges.items():
            t = self._bucket_table(schema, gname, "edges", ename)
            _prep(t)
            (
                et.df.write.mode("overwrite")
                .bucketBy(buckets, "_src")
                .sortBy("_src")
                .saveAsTable(t)
            )
            meta["edges"].append(
                {"name": ename, "src": et.src_label, "dst": et.dst_label}
            )
        self._bucket_meta = getattr(self, "_bucket_meta", {})
        self._bucket_meta[(schema, gname)] = meta

    def load_graph_bucketed(self, path: str) -> PropertyGraph:
        schema, gname = self.split_path(path)
        meta = getattr(self, "_bucket_meta", {}).get((schema, gname))
        if meta is None:
            raise CatalogError(f"no bucketed graph {path!r} in this session")
        g = PropertyGraph(self.spark, name=gname)
        for label in meta["nodes"]:
            g.add_nodes(
                label,
                self.spark.table(self._bucket_table(schema, gname, "nodes", label)),
                "_id",
            )
        for e in meta["edges"]:
            g.add_edges(
                e["name"],
                self.spark.table(self._bucket_table(schema, gname, "edges", e["name"])),
                "_src",
                "_dst",
                e["src"],
                e["dst"],
            )
        self.schemas.setdefault(schema, {})[gname] = g
        return g

    @staticmethod
    def _bucket_table(schema: str, gname: str, kind: str, name: str) -> str:
        return f"gl_{schema}_{gname}_{kind}_{name}".lower()

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_catalog.json")

    def _save_manifest(self) -> None:
        if not self.root:
            return
        # schema created_at/modified_at ride along so gql.list_schemas
        # timestamps survive a catalog reload instead of resetting to now
        data = {
            "schemas": {s: sorted(gs) for s, gs in self.schemas.items()},
            "schema_meta": self._schema_meta,
        }
        with open(self._manifest_path(), "w") as f:
            json.dump(data, f)

    def _load_manifest(self) -> None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return
        with open(p) as f:
            data = json.load(f)
        if "schemas" in data and isinstance(data.get("schemas"), dict):
            for name, meta in (data.get("schema_meta") or {}).items():
                self._schema_meta[name] = meta
            data = data["schemas"]
        for schema, graphs in data.items():
            self.schemas.setdefault(schema, {})
            for gname in graphs:
                gdir = self._graph_dir(schema, gname)
                if os.path.exists(os.path.join(gdir, "_graph.json")):
                    try:
                        self.load_graph(f"/{schema}/{gname}")
                    except Exception:
                        self.schemas[schema].setdefault(
                            gname, PropertyGraph(self.spark, name=gname)
                        )
                else:
                    self.schemas[schema].setdefault(
                        gname, PropertyGraph(self.spark, name=gname)
                    )
