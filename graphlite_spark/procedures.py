"""System procedures (catalog/system_procedures.rs:77-91): one table of
``gql.*`` entries and one dispatcher for every CALL.

An entry is ``Procedure(name, params, result, fn)``. ``params`` lists
``(name, type, default)`` with type ``long | double | string | any``
(``any`` is passed as given); ``REQUIRED`` marks a parameter without a
default, and a last parameter named ``*name`` takes every remaining
argument. ``result`` is the DDL schema of the rows ``fn`` returns, or
None when ``fn`` always returns an operator's DataFrame. ``fn(db,
**args)`` returns a DataFrame or a list of row tuples.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from importlib import import_module
from typing import Any, Callable, NamedTuple, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gql import ast as A
from .operators.common import local_frame

REQUIRED = object()


class Procedure(NamedTuple):
    name: str
    params: list[tuple[str, str, Any]]
    result: Optional[str]
    fn: Callable[..., Any]


def call(db, stmt, params: dict) -> Any:
    """Run one CALL, of a CREATE PROCEDURE body or a table entry: bind
    the arguments, build driver rows with the declared schema, then
    apply YIELD and WHERE. A user procedure whose last statement is a
    write answers its status dict."""
    name = stmt.proc.lower()
    body = db._procedures.get(name)
    if body is not None:
        proc = Procedure(name, [], None, lambda db: db.execute(body, params))
    elif name in PROCEDURES:
        proc = PROCEDURES[name]
    else:
        raise NotImplementedError(f"procedure {stmt.proc}")
    out = proc.fn(db, **_bind(proc, stmt.args, params))
    if isinstance(out, list):
        out = local_frame(db.spark, out, proc.result)
    if not isinstance(out, DataFrame):
        return out
    if stmt.yield_cols:
        out = out.select(*stmt.yield_cols)
    if stmt.where is not None:
        from .gql.compiler import Binding, ExprCompiler, Frame

        frame = Frame(out, {c: Binding("value") for c in out.columns})
        out = out.filter(ExprCompiler(frame).compile(stmt.where))
    return out


_TYPES = {"long": int, "double": float, "string": str, "any": lambda v: v}


def _bind(proc: Procedure, args: list, params: dict) -> dict:
    """Positional CALL arguments -> {parameter: value}, defaults filled."""
    spec = proc.params
    if len(args) > len(spec) and not (spec and spec[-1][0][0] == "*"):
        raise ValueError(f"{proc.name}({_signature(proc)}) takes "
                         f"{len(spec)} argument(s), got {len(args)}")
    out = {}
    for i, (pname, ptype, default) in enumerate(spec):
        if pname[0] == "*":
            rest = [_arg(proc, pname, ptype, default, a, params)
                    for a in args[i:]]
            out[pname[1:]] = rest or default
        elif i < len(args):
            out[pname] = _arg(proc, pname, ptype, default, args[i], params)
        elif default is REQUIRED:
            raise ValueError(f"{proc.name}: missing argument {pname} "
                             f"({ptype})")
        else:
            out[pname] = default
    return out


def _arg(proc, pname, ptype, default, e, params):
    """One argument: a literal, a negated number or a ``$param``, cast
    to the parameter's type. NULL passes where the default is NULL."""
    if isinstance(e, A.Param):
        if e.name not in params:
            raise ValueError(f"{proc.name}: argument {pname} is the "
                             f"missing parameter ${e.name}")
        v = params[e.name]
    elif isinstance(e, A.Literal):
        v = e.value
    elif (isinstance(e, A.Unary) and e.op == "-"
          and isinstance(e.operand, A.Literal)
          and isinstance(e.operand.value, (int, float))):
        v = -e.operand.value
    else:
        raise ValueError(f"{proc.name}: argument {pname} must be a "
                         f"literal or a $parameter")
    if v is None and (default is None or ptype == "any"):
        return None
    try:
        return _TYPES[ptype](v)
    except (TypeError, ValueError):
        raise ValueError(f"{proc.name}: argument {pname} expects {ptype}, "
                         f"got {v!r}") from None


def _signature(proc: Procedure) -> str:
    return ", ".join(
        f"{n} {t}" + ("" if d is REQUIRED
                      else " = NULL" if d is None else f" = {d!r}")
        for n, t, d in proc.params)


# -- helpers shared by entries ------------------------------------------------
def _op(module: str):
    """An operator module, imported on first use: most sessions CALL few
    of them, and importing all of them costs about 0.1 s."""
    return import_module(f"{__package__}.operators.{module}")


def _current_schema(db) -> str:
    return db.catalog.split_path(db._current_graph or "/default/")[0]


def _opt_int(v):
    return None if v is None else int(v)


def _graph_op(fn: str, nodes: Optional[str] = "_id", **fixed):
    """An entry running ``operators.paths.<fn>`` on the session graph's
    edge union and, unless ``nodes`` is None, its node union with the id
    column named ``nodes`` (GraphIndexScan companions); the CALL's
    arguments go in as keywords."""
    def run(db, **kw):
        version = db.graph().tables
        paths = _op("paths")
        frames = [paths.edge_union(version, db.spark)]
        if nodes is not None:
            frames.append(paths.node_union(version, db.spark, nodes))
        return getattr(paths, fn)(*frames, **kw, **fixed)

    return run


def _shortest_path_pair(db, src, dst, max_hops):
    # the graph's version: the operator searches its edges on the driver
    # while they fit a broadcast, and answers driver rows
    return _op("paths").shortest_path_pair(db.graph().tables, src, dst,
                                           max_hops=max_hops)


def _list_functions(db):
    from .functions.registry import _SCALARS, AGGREGATES

    return [(n, "aggregate") for n in sorted(AGGREGATES)] + [
        (n, "scalar") for n in sorted(_SCALARS) if not n.startswith("_")]


def _cache_stats(db):
    # YIELD cache_type, entries, hit_rate, memory_bytes
    # (system_procedures.rs:14); hit_rate tracked for the plan
    # cache, RDD cache entries from the Spark context
    total = db._plan_cache_hits + db._plan_cache_misses
    rdds = len(db.spark.sparkContext._jsc.getPersistentRDDs())
    return [
        ("plan_cache", len(db._plan_cache),
         db._plan_cache_hits / total if total else 0.0, 0),
        ("result_cache", len(db._persisted),
         1.0 if db._result_cache_on else 0.0, 0),
        ("rdd_cache", rdds, 0.0, 0),
    ]


def _clear_cache(db):
    # system_procedures.rs:901-966: returns (status, cleared_caches)
    n = len(db.spark.sparkContext._jsc.getPersistentRDDs())
    n += 1 if db._plan_cache else 0
    db.clear_plan_cache()
    db.spark.catalog.clearCache()
    return [("ok", n)]


def _describe_schema(db, schema):
    target = schema if schema is not None else _current_schema(db)
    return [
        (target, g.split("/")[-1]) for g in db.catalog.list_graphs()
        if db.catalog.split_path(g)[0] == target
    ] or [(target, None)]


def _describe_graph(db, graph):
    g = db.graph(graph)
    return [
        ("node", lbl, ",".join(
            c for c in g.nodes_for_label(lbl).columns if c != "_id"))
        for lbl in g.node_labels()
    ] + [("edge", et.name, f"{et.src_label}->{et.dst_label}")
         for et in g.edges.values()]


def _list_edge_types(db):
    # introspection/queries.rs:94 ListEdgeTypes (roadmap-stubbed
    # there; answered from the live graph here)
    g = db.graph()
    return [(t, g.edge_type(t).src_label, g.edge_type(t).dst_label)
            for t in g.edge_labels()]


def _describe_graph_type(db, name):
    # introspection/queries.rs:89 DescribeGraphType: one row per
    # declared element with its endpoint labels and property list
    from .catalog import CatalogError

    spec = db._graph_types.get(name)
    if spec is None:
        raise CatalogError(f"unknown graph type {name!r}")

    def props(s):
        return ", ".join(f"{k} {v}" for k, v in sorted(s.properties.items()))

    return [(name, "node", lbl, None, None, props(ns))
            for lbl, ns in sorted(spec.nodes.items())] + [
        (name, "edge", t, es.src_label, es.dst_label, props(es))
        for t, es in sorted(spec.edges.items())]


def _graph_stats(db, graph):
    # ONE Spark job: union every label table projected to two
    # literal columns (the scans are column-pruned to nothing),
    # then a single partial-aggregating groupBy — instead of N
    # serial driver-launched .count() jobs on an N-label graph.
    g = db.graph(graph)
    parts = [
        df.select(F.lit("node").alias("kind"), F.lit(lbl).alias("label"))
        for lbl, df in sorted(g.nodes.items())
    ] + [
        et.df.select(F.lit("edge").alias("kind"), F.lit(t).alias("label"))
        for t, et in sorted(g.edges.items())
    ]
    if not parts:
        return []
    counts = (reduce(DataFrame.unionByName, parts)
              .groupBy("kind", "label").agg(F.count(F.lit(1)).alias("n")))
    # left-join against the catalog's label list so EMPTY tables
    # still report n=0 (a groupBy emits no group for them)
    labels = local_frame(
        db.spark,
        [("node", lbl) for lbl in sorted(g.nodes)]
        + [("edge", t) for t in sorted(g.edges)],
        "kind string, label string",
    )
    return (
        labels.join(counts, ["kind", "label"], "left")
        .select("kind", "label", F.coalesce("n", F.lit(0)).alias("n"))
        # node rows before edge rows, labels alphabetical — the
        # same presentation order the reference's introspection
        # queries emit
        .orderBy(F.desc("kind"), "label")
    )


def _sample_data(db, label, k):
    g = db.graph()
    return g.nodes_for_label(
        label if label is not None else g.node_labels()[0]).limit(k)


def _version_history(db):
    from . import __version__

    return [(__version__, "graphlite-spark engine")]


def _register_model(db, model, uri):
    db._models[model] = {"uri": uri, "loaded": False}
    return [(model, "registered")]


def _set_model_loaded(db, model, loaded):
    if model not in db._models:
        raise KeyError(f"no model {model!r}; register it first")
    db._models[model]["loaded"] = loaded
    return [(model, "loaded" if loaded else "unloaded")]


def _describe_model(db, model):
    if model not in db._models:
        raise KeyError(f"no model {model!r}; have {sorted(db._models)}")
    d = db._models[model]
    return [(model, d["uri"], d["loaded"])]


def _dedup(db, label, prop, mode, threshold):
    # (_id, canonical_id) over a node label's text property:
    # mode 'exact' = content-hash groups (min id canonical);
    # mode 'near' = MinHash-LSH verified pairs collapsed
    # through the transitive closure (dedup_clusters).
    # Survivors = WHERE _id = canonical_id.
    ndf = db.graph().nodes_for_label(label)
    mode = mode.lower()
    if mode == "exact":
        key = F.xxhash64(F.lower(F.trim(F.col(prop))))
        canon = (ndf.select(F.col("_id"), key.alias("_h"))
                 .groupBy("_h")
                 .agg(F.min("_id").alias("canonical_id")))
        return (ndf.select("_id", key.alias("_h"))
                .join(canon, "_h")
                .select("_id", "canonical_id"))
    if mode == "near":
        D = _op("dedup")
        pairs = D.minhash_lsh_pairs(ndf, text_col=prop, id_col="_id",
                                    threshold=threshold)
        return D.dedup_clusters(ndf, pairs, id_col="_id")
    raise ValueError(f"dedup mode must be 'exact' or 'near', got {mode!r}")


def _index_versions(db, path):
    return [(int(r["seq"]), _opt_int(r["version"]), _opt_int(r["hwm"]),
             _opt_int(r["delta_floor"]))
            for r in _op("index_store").versions(db.spark, path)]


def _index_describe(db, path):
    d = _op("index_store").describe_index(db.spark, path)
    return [(t, info.get("base_dir"), info.get("base_bytes"),
             info.get("base_files"), info.get("delta_bytes"),
             len(info.get("delta_epochs", [])), int(d["seq"]),
             _opt_int(d["version"]), _opt_int(d["hwm"]),
             _opt_int(d["delta_floor"]))
            for t, info in sorted(d["tiers"].items())]


def _index_sync(db, src, dst):
    out = _op("index_store").sync_index(db.spark, src, dst)
    return [(bool(out["bootstrapped"]), len(out["applied"]),
             _opt_int(out["hwm"]))]


def _profile(db, label, columns):
    nodes = db.graph().nodes_for_label(label)
    missing = [c for c in columns or () if c not in nodes.columns]
    if missing:
        raise KeyError(f"unknown properties {missing!r} on label {label!r}")
    return _op("analytics").table_profile(nodes, cols=columns)


def _property(db, label, prop):
    nodes = db.graph().nodes_for_label(label)
    if prop not in nodes.columns:
        raise KeyError(f"unknown property {prop!r} on label {label!r}")
    return nodes


def _hll_distinct(db, label, prop, p):
    nodes = _property(db, label, prop)
    dtype = dict(nodes.dtypes)[prop]
    key = nodes.select(
        (F.col(prop) if dtype in ("bigint", "int", "smallint", "tinyint")
         else F.xxhash64(prop)).alias("_k"))
    return _op("sketches").hll_count_distinct(key, "_k", p=p)


def _dd_quantiles(db, label, prop, quantiles):
    SK = _op("sketches")
    values = _property(db, label, prop).select(
        F.col(prop).cast("double").alias("_v"))
    sketch = SK.dd_sketch(values, "_v", alpha=0.01, on_nonpositive="drop")
    return SK.dd_quantile(sketch, list(quantiles), alpha=0.01).orderBy("q")


_MODEL_STATUS = "model string, status string"
_MODEL = "model string, uri string, loaded boolean"
_INDEX = "name string, kind string, target string"
_MODEL_ARG = [("model", "string", REQUIRED)]
_LABEL_PROP = [("label", "string", REQUIRED), ("prop", "string", REQUIRED)]
_SAMPLED = [("p", "double", 0.25), ("max_hops", "long", 8)]
_SALT = [("salt", "long", 0)]

PROCEDURES: dict[str, Procedure] = {p.name: p for p in [
    # -- catalog and session --------------------------------------------------
    Procedure("gql.list_procedures", [],
              "name string, parameters string, result string",
              lambda db: sorted(
                  [(p.name, _signature(p), p.result)
                   for p in PROCEDURES.values()]
                  + [(n, "", None) for n in db._procedures])),
    # YIELD columns per system_procedures.rs:7
    Procedure("gql.list_schemas", [],
              "schema_name string, schema_path string, created_at string, "
              "modified_at string",
              lambda db: [(s, f"/{s}", db.catalog.schema_meta(s)["created_at"],
                           db.catalog.schema_meta(s)["modified_at"])
                          for s in db.catalog.list_schemas()]),
    Procedure("gql.list_graphs", [],
              "graph_name string, schema_name string, graph_path string",
              lambda db: [(g.rstrip("/").split("/")[-1],
                           db.catalog.split_path(g)[0], g)
                          for g in db.catalog.list_graphs()]),
    Procedure("gql.list_functions", [], "name string, kind string",
              _list_functions),
    Procedure("gql.list_indexes", [], _INDEX,
              lambda db: [(d["name"], d["kind"], str(d["target"]))
                          for d in db._indexes.values()]),
    Procedure("gql.list_graph_types", [],
              "graph_type_name string, schema_name string",
              lambda db: [(n, "default") for n in sorted(db._graph_types)]),
    Procedure("gql.list_users", [], "user_name string, roles string",
              lambda db: [(u, ",".join(d["roles"]))
                          for u, d in sorted(db._users.items())]),
    Procedure("gql.list_roles", [], "role_name string, grants string",
              lambda db: [(r, ",".join(d["grants"]))
                          for r, d in sorted(db._roles.items())]),
    Procedure("gql.authenticate_user", [("user", "string", "default")],
              "user_name string, authenticated boolean",
              lambda db, user: [(user, user in db._users)]),
    # YIELD per system_procedures.rs:13
    Procedure("gql.show_session", [],
              "session_id string, user_name string, schema_name string, "
              "graph_name string",
              lambda db: [(db.spark.sparkContext.applicationId, "default",
                           db._schema_default, db._current_graph)]),
    Procedure("gql.cache_stats", [],
              "cache_type string, entries long, hit_rate double, "
              "memory_bytes long", _cache_stats),
    Procedure("gql.clear_cache", [], "status string, cleared_caches long",
              _clear_cache),
    Procedure("gql.current_graph", [], "graph string",
              lambda db: [(db._current_graph,)]),
    Procedure("gql.current_schema", [], "schema string",
              lambda db: [(_current_schema(db),)]),
    Procedure("gql.describe_schema", [("schema", "string", None)],
              "schema string, graph string", _describe_schema),
    Procedure("gql.get_schema_statistics", [], "schema string, n_graphs long",
              lambda db: sorted(Counter(db.catalog.split_path(g)[0]
                                        for g in db.catalog.list_graphs())
                                .items())),
    Procedure("gql.get_version_history", [], "version string, note string",
              _version_history),
    # -- graph introspection --------------------------------------------------
    Procedure("gql.describe_graph", [("graph", "string", None)],
              "kind string, label string, properties string",
              _describe_graph),
    Procedure("gql.list_node_types", [], "node_type string",
              lambda db: [(lbl,) for lbl in db.graph().node_labels()]),
    Procedure("gql.describe_node_type", [("label", "string", "")],
              "node_type string, property string, dtype string",
              lambda db, label: [
                  (label, c, t)
                  for c, t in db.graph().nodes_for_label(label).dtypes
                  if c != "_id"]),
    Procedure("gql.list_edge_types", [],
              "edge_type string, src_label string, dst_label string",
              _list_edge_types),
    Procedure("gql.describe_edge_type", [("edge_type", "string", "")],
              "edge_type string, property string, dtype string",
              lambda db, edge_type: [
                  (edge_type, c, t)
                  for c, t in db.graph().edge_type(edge_type).df.dtypes
                  if c not in ("_src", "_dst")]),
    Procedure("gql.describe_graph_type", [("name", "string", "")],
              "graph_type string, kind string, label string, "
              "src_label string, dst_label string, properties string",
              _describe_graph_type),
    Procedure("gql.graph_stats", [("graph", "string", None)],
              "kind string, label string, n long", _graph_stats),
    Procedure("gql.sample_data",
              [("label", "string", None), ("k", "long", 5)], None,
              _sample_data),
    Procedure("gql.list_text_indexes", [], "name string, target string",
              lambda db: [(d["name"], str(d["target"]))
                          for d in db._indexes.values() if d["kind"] == "TEXT"]),
    Procedure("gql.describe_text_index", [("name", "string", None)], _INDEX,
              lambda db, name: [
                  (d["name"], d["kind"], str(d["target"]))
                  for d in db._indexes.values()
                  if d["kind"] == "TEXT" and name in (None, d["name"])]),
    # -- model registry -------------------------------------------------------
    Procedure("gql.register_model", _MODEL_ARG + [("uri", "string", "")],
              _MODEL_STATUS, _register_model),
    Procedure("gql.delete_model", _MODEL_ARG, _MODEL_STATUS,
              lambda db, model: [(model, "not found"
                                  if db._models.pop(model, None) is None
                                  else "deleted")]),
    Procedure("gql.load_model", _MODEL_ARG, _MODEL_STATUS,
              lambda db, model: _set_model_loaded(db, model, True)),
    Procedure("gql.unload_model", _MODEL_ARG, _MODEL_STATUS,
              lambda db, model: _set_model_loaded(db, model, False)),
    Procedure("gql.list_models", [], _MODEL,
              lambda db: [(m, d["uri"], d["loaded"])
                          for m, d in sorted(db._models.items())]),
    Procedure("gql.describe_model", [("model", "string", "")], _MODEL,
              _describe_model),
    Procedure("gql.model_stats", [("model", "string", "")], _MODEL,
              _describe_model),
    # -- text and curation over a node label's text property ------------------
    # BM25 scoring on the CALL surface the reference's text-index path
    # gestures at (plan/optimizer.rs:510-751)
    Procedure("gql.bm25_search",
              _LABEL_PROP + [("query", "string", REQUIRED), ("k", "long", 10)],
              None,
              lambda db, label, prop, query, k: _op("text").bm25_search(
                  db.graph().nodes_for_label(label), query.split(),
                  text_col=prop, id_col="_id", k=k)),
    # the Gopher rule-set flags: a GQL user audits/filters document
    # nodes without leaving the session graph
    Procedure("gql.gopher_filters",
              _LABEL_PROP + [("min_words", "long", 50),
                             ("min_stop_words", "long", 2)],
              None,
              lambda db, label, prop, **kw: _op("text").gopher_quality_filters(
                  db.graph().nodes_for_label(label), text_col=prop,
                  id_col="_id", **kw)),
    # heuristic 13-language n-gram lang-id
    Procedure("gql.lang_id", _LABEL_PROP + [("n", "long", 3)], None,
              lambda db, label, prop, n: _op("text").lang_id(
                  db.graph().nodes_for_label(label), text_col=prop,
                  id_col="_id", n=n)),
    Procedure("gql.dedup",
              _LABEL_PROP + [("mode", "string", "exact"),
                             ("threshold", "double", 0.8)],
              None, _dedup),
    # -- persisted indexes: the manifest layer every index family shares
    # (operators/index_store.py) ----------------------------------------------
    # retained time-travel generations
    Procedure("gql.index_versions", [("path", "string", REQUIRED)],
              "seq long, version long, hwm long, delta_floor long",
              _index_versions),
    # scan-free per-tier ops summary
    Procedure("gql.index_describe", [("path", "string", REQUIRED)],
              "tier string, base_dir string, base_bytes long, "
              "base_files long, delta_bytes long, delta_epochs long, "
              "seq long, version long, hwm long, delta_floor long",
              _index_describe),
    # changelog (CDC) rows a tier gained between two manifest commits
    Procedure("gql.index_changes",
              [("path", "string", REQUIRED), ("tier", "string", REQUIRED),
               ("from_seq", "long", REQUIRED), ("to_seq", "long", None)],
              None,
              lambda db, **kw: _op("index_store").tier_changes(
                  db.spark, **kw)),
    # incrementally replicate a maintained index by shipping its changelog
    Procedure("gql.index_sync",
              [("src", "string", REQUIRED), ("dst", "string", REQUIRED)],
              "bootstrapped boolean, applied long, hwm long", _index_sync),
    # -- profiles and sketches over a node label ------------------------------
    # Deequ-style column profile (operators/analytics.table_profile)
    Procedure("gql.profile",
              [("label", "string", REQUIRED), ("*columns", "string", None)],
              None, _profile),
    # sketches (operators/sketches.py): approximate distinct / quantiles
    # that stay mergeable and deterministic on any partitioning
    Procedure("gql.hll_distinct", _LABEL_PROP + [("p", "long", 12)], None,
              _hll_distinct),
    Procedure("gql.dd_quantiles",
              _LABEL_PROP + [("*quantiles", "double", (0.5, 0.9, 0.99))],
              None, _dd_quantiles),
    # -- graph analytics over the session graph (operators/paths.py) ----------
    Procedure("gql.weighted_shortest_path",
              [("edge_type", "string", REQUIRED),
               ("weight", "string", REQUIRED), ("source", "long", REQUIRED)],
              None,
              lambda db, edge_type, weight, source: _op("paths").weighted_sssp(
                  db.graph().edge_type(edge_type).df,
                  local_frame(db.spark, [(source,)], "node: long"),
                  weight_col=weight)),
    Procedure("gql.shortest_path_pair",
              [("src", "any", REQUIRED), ("dst", "any", REQUIRED),
               ("max_hops", "long", 20)],
              "dist long", _shortest_path_pair),
    Procedure("gql.pagerank", [("num_iter", "long", 10)], None,
              _graph_op("pagerank")),
    Procedure("gql.connected_components", [], None,
              _graph_op("connected_components")),
    Procedure("gql.k_truss", [("k", "long", 3)], None,
              _graph_op("k_truss", nodes=None)),
    Procedure("gql.truss_decomposition", [], None,
              _graph_op("truss_decomposition", nodes=None)),
    Procedure("gql.core_decomposition", [], None,
              _graph_op("core_decomposition", nodes=None)),
    Procedure("gql.betweenness_sampled", _SAMPLED, None,
              _graph_op("betweenness_sampled", nodes="node")),
    Procedure("gql.closeness_sampled", _SAMPLED, None,
              _graph_op("closeness_sampled", nodes="node", harmonic=True)),
    Procedure("gql.eccentricity_sampled", _SAMPLED, None,
              _graph_op("eccentricity_sampled", nodes="node")),
    Procedure("gql.leiden",
              [("max_levels", "long", 3), ("max_rounds", "long", 20),
               ("resolution", "double", 1.0)],
              None, _graph_op("leiden_communities")),
    Procedure("gql.random_walks",
              [("n_walks", "long", 1), ("length", "long", 10)], None,
              _graph_op("random_walks", nodes=None)),
    Procedure("gql.node2vec_walks",
              [("n_walks", "long", 1), ("length", "long", 10),
               ("p", "any", 1), ("q", "any", 1)],
              None, _graph_op("node2vec_walks", nodes=None)),
    Procedure("gql.hits", [("num_iter", "long", 10)], None,
              _graph_op("hits")),
    Procedure("gql.katz_centrality",
              [("alpha", "double", 0.1), ("beta", "double", 1.0),
               ("num_iter", "long", 10)],
              None, _graph_op("katz_centrality")),
    Procedure("gql.assortativity", [], None,
              _graph_op("degree_assortativity", nodes=None)),
    Procedure("gql.link_prediction", [("max_center_degree", "long", None)],
              None, _graph_op("link_prediction", nodes=None)),
    Procedure("gql.clustering_coefficient", [], None,
              _graph_op("clustering_coefficient", nodes=None)),
    Procedure("gql.transitivity", [], None,
              _graph_op("transitivity", nodes=None)),
    Procedure("gql.maximal_independent_set", _SALT, None,
              _graph_op("maximal_independent_set")),
    Procedure("gql.maximal_matching", _SALT, None,
              _graph_op("maximal_matching", nodes=None)),
    Procedure("gql.greedy_coloring", _SALT, None,
              _graph_op("greedy_coloring")),
]}
