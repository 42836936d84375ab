"""DML execution: INSERT / MATCH-SET / MATCH-REMOVE / MATCH-DELETE.

Spark-first rendition of the reference write engine (GraphLite
`graphlite/src/exec/write_engine/operations/{insert,match_set,
match_delete,match_remove}.rs`), delta-main: each table is the base of
its last fold plus the rows appended and the tombstones added since
(``graph.Table``), and a statement stages, per table it touches, the
keys to tombstone and the rows to append, on the driver:

- INSERT probes the views of the tables it adds to for duplicates, all
  in one Spark job, and appends the rows no stored row duplicates;
- SET and REMOVE collect the matched nodes' rows, tombstone their ids
  and append the rows changed;
- DELETE tombstones the matched ids or ``(_src, _dst)`` pairs. DETACH
  DELETE also tombstones ``(id, None)`` in each incident edge type,
  masking every base edge of a deleted node; a plain DELETE instead
  probes the incident edges in one job, refusing if there are any;
- MATCH-INSERT collects the matched endpoint pairs and appends one edge
  per distinct pair.

A match is collected in one job, up to ``FOLD_AT`` rows. A larger one
rewrites the tables it touches as DataFrames instead: the matched keys
join the table with whatever join the planner picks, and counts are
``observe`` metrics riding the fold (a plain DELETE's incident-edge
probe is still one job, a semi join with the matched ids). Staging
publishes nothing: ``commit`` publishes every touched table together,
after the last fold, so a statement that raises changes no table. A
table folds, one eager checkpoint of its view (``_ck_cut_stats``) that
becomes its new base, only when a DataFrame rewrite staged it or its
appended rows plus tombstones pass ``FOLD_AT``. Below that, its view is
a filter on the base plus a local relation, and the base keeps its
statistics.

An INSERTed property whose value is NULL is absent, as everywhere else
in the engine (REMOVE, reads, the duplicate match): it does not enter
the content hash, the row or the table's columns, and a read returns
NULL for it. A value no column type can hold (an empty list) is refused
with the property's name. START TRANSACTION snapshots the tables and
their triples, ROLLBACK restores them (optimistic, last-writer-wins; the
reference's interactive isolation levels don't map 1:1, see README).
"""

from __future__ import annotations

import functools
from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import _has_nulltype, _infer_type

from .catalog import content_hash_id
from .graph import DST, ID, SRC, PropertyGraph, Table, keys_in
from .gql import ast as A
from .gql.compiler import (CompileError, ExprCompiler, Frame, QueryCompiler,
                           _ncol)
from .gql.statements import InsertStmt, MatchMutateStmt
from .operators.common import _ck_cut_stats, local_frame

# Rows a match may collect, and appended rows plus tombstones a table may
# carry before it folds. Carrying costs each statement that touches the
# table its view rebuilt, about 0.1 ms per key (the IN list parsed, the
# local relation shipped), and every read a filter on the base; a fold
# costs a full pass over the table (50-120 ms on the benchmark's 2,000
# persons, seconds at 200,000). At 256 the carry stays near 25 ms.
FOLD_AT = 256

# helper columns of rewritten frames: matched node id and its SET value,
# matched edge endpoints; none survives into a published table
_TID, _VAL, _SRC, _DST = "__tid", "__val", "__src", "__dst"


class DmlError(ValueError):
    pass


class Staged:
    """One statement's working triples (``tables``), not yet published:
    those it ``touched`` on the driver and those a DataFrame rewrite
    replaced (``folds``), and the endpoint labels of the edge types it
    creates."""

    def __init__(self, graph: PropertyGraph):
        self.graph = graph
        self.tables: dict[tuple[bool, str], Table] = {}
        self.touched: set[tuple[bool, str]] = set()
        self.folds: set[tuple[bool, str]] = set()
        self.ends: dict[str, tuple[str, str]] = {}
        self._observations: list[Observation] = []

    def get(self, name: str, edge: bool) -> Table | None:
        key = (edge, name)
        if key not in self.tables:
            t = self.graph.table(name, edge)
            if t is None:
                return None
            self.tables[key] = t
        return self.tables[key]

    def view(self, name: str, edge: bool) -> DataFrame:
        """Table ``name`` as this statement has staged it so far."""
        t = self.tables[(edge, name)] = self.get(name, edge).composed(
            self.graph.spark)
        return t.view

    def put(self, name: str, edge: bool, rows: list[dict],
            types: dict | None = None):
        """Append ``rows`` to table ``name`` (``Table.appended``), typed
        ``types`` (default: inferred from the values). A value of a type
        the delta's column can't hold leaves the coercion to Spark: the
        table is rewritten as its view plus the rows, and folds. No rows
        leave a stored table as it is, and create a new one with the
        columns of ``types``."""
        t = self.get(name, edge)
        if t is None:
            t = Table(edge, None, schema=T.StructType())
        elif not rows:
            return
        schema = t.schema if t.schema is not None else T.StructType(
            [T.StructField(f.name, f.dataType) for f in t.base.schema])
        for ty in [types] if types is not None else map(_inferred, rows):
            schema = None if schema is None else _merged(schema, ty)
        if schema is None:
            delta = local_frame(self.graph.spark, rows, types and T.StructType(
                [T.StructField(c, dt) for c, dt in types.items()]))
            self.rewrite(name, edge, self.view(name, edge).unionByName(
                delta, allowMissingColumns=True))
            return
        self._stage(t.appended(rows, schema), name)

    def drop(self, name: str, edge: bool, keys: set):
        if keys:
            self._stage(self.get(name, edge).dropped(keys), name)

    def rewrite(self, name: str, edge: bool, df: DataFrame):
        """Stage ``df`` as the whole of table ``name``; it folds."""
        self.tables[(edge, name)] = Table(edge, df, df)
        self.folds.add((edge, name))

    def _stage(self, t: Table, name: str):
        self.tables[(t.edge, name)] = t
        self.touched.add((t.edge, name))

    def observe(self, df: DataFrame, metric) -> tuple[DataFrame, str]:
        """``df`` with ``metric`` attached, and its name in ``commit``'s
        result. A metric only inside a join's broadcast side may never be
        computed: the optimizer drops a side it proves empty."""
        name = f"m{len(self._observations)}"
        self._observations.append(Observation())
        return df.observe(self._observations[-1], metric.alias(name)), name


def _inferred(row: dict) -> dict:
    return {k: _infer_type(v) for k, v in row.items()}


_INTEGRAL = {T.ByteType, T.ShortType, T.IntegerType, T.LongType}
_NUMERIC = _INTEGRAL | {T.FloatType, T.DoubleType}


def _merged(schema: T.StructType, types: dict) -> T.StructType | None:
    """``schema`` with the columns ``types`` adds, and its columns widened
    to hold values of ``types``; None when one can't."""
    fields = {f.name: f.dataType for f in schema}
    for c, dt in types.items():
        old = fields.setdefault(c, dt)
        kinds = {type(old), type(dt)}
        if isinstance(dt, T.NullType) or old.simpleString() == dt.simpleString():
            continue
        if isinstance(old, T.NullType):
            fields[c] = dt
        elif kinds <= _NUMERIC:
            fields[c] = T.LongType() if kinds <= _INTEGRAL else T.DoubleType()
        else:
            return None
    return T.StructType([T.StructField(c, dt) for c, dt in fields.items()])


def commit(graph: PropertyGraph, staged: Staged) -> dict:
    """Publish every table ``staged`` changed; return the observed
    metrics by name. Nothing publishes before every fold has run, so a
    statement that raises changes no table.

    A table a DataFrame rewrite staged, or whose appended rows plus
    tombstones pass ``FOLD_AT``, is folded: its view checkpointed once,
    eagerly, with Catalyst's size stats reset (``_ck_cut_stats``), and the
    metrics ride those jobs. Uncut, n rewrites build an n-deep plan of
    the rewrites' own plans that every later statement re-executes while
    the non-CBO join-stats product compounds per level (11 single-edge
    inserts once took 430 s); the cap keeps a delta's view flat, and the
    fold keeps every statement O(current data), not O(history)."""
    spark = graph.spark
    out = {}
    for key in staged.touched | staged.folds:
        t = staged.tables[key].composed(spark)
        if key in staged.folds or len(t.rows) + len(t.dead) > FOLD_AT:
            old = graph.table(key[1], key[0])
            # an append adds partitions: hold the table at the count its
            # base had (a truncated base has none), or a long history
            # splits every scan into ever more tiny tasks
            n = 1 if old is None or old.base is None \
                else old.base.rdd.getNumPartitions()
            df = _ck_cut_stats(t.view.coalesce(max(n, 1)))
            t = Table(t.edge, df, df)
        out[key] = t
    metrics = {k: v for o in staged._observations for k, v in o.get.items()}
    for (_edge, name), t in out.items():
        graph.publish(name, t, staged.ends.get(name))
    return metrics


def _literal_props(props: dict[str, A.Expr], params: dict,
                   spark) -> dict[str, Any]:
    """Evaluate INSERT/SET property values: literals and parameters
    directly; any other *constant* expression (function calls, arithmetic
    — function_expression_insert_test.rs allows e.g. upper('x'),
    abs(-5)) through the expression compiler over a single row. Variable
    references are rejected (nothing is bound in INSERT patterns). A
    NULL value is dropped: the property is absent."""
    out = {}
    pending: dict[str, A.Expr] = {}
    for k, v in props.items():
        if isinstance(v, A.Literal):
            out[k] = v.value
        elif isinstance(v, A.Param):
            out[k] = params.get(v.name)
        elif isinstance(v, A.Unary) and v.op == "-" and isinstance(v.operand, A.Literal):
            out[k] = -v.operand.value
        else:
            pending[k] = v
    if pending:
        frame = Frame(spark.range(1))
        cols = []
        for k, v in pending.items():
            try:
                cols.append(ExprCompiler(frame, params).compile(v).alias(k))
            except CompileError as e:
                raise DmlError(
                    f"INSERT property {k!r} must be a constant expression: {e}"
                ) from e
        row = frame.df.select(*cols).collect()[0]
        for k in pending:
            out[k] = row[k]
    out = {k: v for k, v in out.items() if v is not None}
    for k, v in out.items():
        if _has_nulltype(_infer_type(v)):
            raise DmlError(f"INSERT property {k!r}: no column type holds "
                           f"{v!r} (an empty or all-NULL collection)")
    return out


def execute_insert(graph: PropertyGraph, stmt: InsertStmt,
                   params: dict | None = None,
                   warnings: list | None = None) -> int:
    """INSERT node/edge patterns. Entity ids are content hashes of
    labels+props (insert.rs:87-135 recipe), which makes identical-content
    inserts idempotent: a duplicate node/edge is skipped with a warning
    and rows_affected 0, the behavior pinned by the reference's
    duplicate_insert_test.rs / duplicate_edge_warning_test.rs."""
    params = params or {}
    stage = Staged(graph)
    new: list[tuple] = []  # (table, is edge, row, duplicate warning)
    for pat in stmt.patterns:
        elems = pat.elements
        node_ids: list = []
        node_labels: list[str] = []
        # nodes first
        for el in elems[::2]:
            if not el.labels:
                raise DmlError("INSERT node needs a label")
            node_ids.append(_new_node(stage, el, params, new))
            node_labels.append(el.labels[0])
        # then edges
        for i, el in enumerate(elems[1::2]):
            etype = el.types[0] if el.types else None
            if etype is None:
                raise DmlError("INSERT edge needs a type")
            props = _literal_props(el.props, params, graph.spark)
            src_i, dst_i = (i, i + 1) if el.direction != "in" else (i + 1, i)
            if graph.graph_type is not None:
                graph.graph_type.validate_edge(
                    etype, node_labels[src_i], node_labels[dst_i], props)
            stage.ends.setdefault(etype, (node_labels[src_i],
                                          node_labels[dst_i]))
            new.append((etype, True,
                        {SRC: node_ids[src_i], DST: node_ids[dst_i], **props},
                        f"Duplicate edge detected ({node_ids[src_i]})"
                        f"-[:{etype}]->({node_ids[dst_i]}); insert skipped"))
    added = _insert(stage, new)
    commit(graph, stage)
    if warnings is not None:
        warnings.extend(n[3] for n, ok in zip(new, added) if not ok)
    return sum(added)


def _new_node(stage: Staged, el, params, new: list) -> Any:
    """Queue the literal node element ``el`` for ``_insert``; return its
    id. On a table with a natural numeric key the content hash folds
    into a positive long (first 60 bits): a string id there is a latent
    ANSI cast failure."""
    graph = stage.graph
    props = _literal_props(el.props, params, graph.spark)
    if graph.graph_type is not None:
        graph.graph_type.validate_node(el.labels, props)
    nid = content_hash_id(el.labels, props)
    old = graph.nodes.get(el.labels[0])
    if old is not None and dict(old.dtypes).get(ID) != "string":
        nid = int(nid[:15], 16)
    new.append((el.labels[0], False, {ID: nid, **props},
                f"Duplicate node detected (content hash {nid}); "
                "insert skipped"))
    return nid


def _insert(stage: Staged, new: list[tuple]) -> list[bool]:
    """Append each row of ``new`` that no row of its table duplicates:
    no stored row (one probe job over the views of every table) and no
    row appended before it in the statement. Return which were added."""
    probes = []
    for i, (name, edge, row, _w) in enumerate(new):
        t = stage.get(name, edge)
        cond = None if t is None else _stored_match(t.view, row) if edge \
            else F.col(ID) == F.lit(row[ID])
        if cond is not None:
            probes.append(t.view.where(cond).select(F.lit(i).alias("i")))
    hits = {r[0] for r in functools.reduce(
        DataFrame.unionAll, probes).collect()} if probes else set()
    added, staged = [], {}
    for i, (name, edge, row, _w) in enumerate(new):
        mine = staged.setdefault((name, edge), [])
        ok = i not in hits and not any(
            r == row if edge else r[ID] == row[ID] for r in mine)
        if ok:
            mine.append(row)
        added.append(ok)
    for (name, edge), rows in staged.items():
        if rows:
            stage.put(name, edge, rows)
    return added


def _stored_match(df: DataFrame, row: dict):
    """Condition a stored row of ``df`` meets iff every column null-safe
    equals ``row``'s value (absent: NULL). None when no stored row can:
    ``row`` has a column ``df`` lacks (value.rs content identity covers
    all properties), or a value the column's type can't hold (comparing
    would be an ANSI cast error, not a match)."""
    if set(row) - set(df.columns):
        return None
    fits = {str: T.StringType, bool: T.BooleanType,
            int: T.NumericType, float: T.NumericType}
    cond = F.lit(True)
    for f in df.schema.fields:
        v = row.get(f.name)
        if type(v) in fits and not isinstance(f.dataType, fits[type(v)]):
            return None
        cond &= (F.col(f.name).isNull() if v is None
                 else F.col(f.name).eqNullSafe(F.lit(v)))
    return cond


def _matched(frame, cols: list) -> tuple[list, T.StructType] | None:
    """The frame's rows of ``cols`` and their types, collected in one job;
    None when there are more than ``FOLD_AT``."""
    df = frame.df.select(*[c.alias(f"c{i}") for i, c in enumerate(cols)])
    rows = df.limit(FOLD_AT + 1).collect()
    return None if len(rows) > FOLD_AT else (rows, df.schema)


def execute_mutate(graph: PropertyGraph, stmt: MatchMutateStmt,
                   params: dict | None = None) -> int:
    params = params or {}
    qc = QueryCompiler(graph, params)
    qc._referenced = {"*"}  # mutations touch entities: no join elision
    frame = None
    for m in stmt.matches:
        frame = qc._compile_match(frame, m)
    if frame is None:
        raise DmlError("mutation requires a MATCH")
    act = {"SET": _set, "REMOVE": _set, "DELETE": _delete,
           "DETACH_DELETE": _delete, "INSERT": _match_insert}.get(stmt.action)
    if act is None:
        raise DmlError(f"unknown action {stmt.action}")
    stage = Staged(graph)
    counted = act(stage, frame, stmt, params)
    metrics = commit(graph, stage)
    return sum(metrics[c] if isinstance(c, str) else c for c in counted)


def _match_insert(stage: Staged, frame, stmt, params) -> list:
    """MATCH ... INSERT (a)-[:T {..}]->(b): connect matched nodes
    (match_insert.rs). Node elements must be bound match variables or
    literal-only new nodes, inserted like INSERT's; edges append per
    distinct endpoint pair. Returns the counts (or metric names)."""
    new, edges = [], []  # new nodes; (type, ends, src, dst, props)
    for pat in stmt.insert_patterns:
        elems = pat.elements
        id_exprs = []
        labels = []
        for el in elems[::2]:
            if el.var and el.var in frame.bindings:
                b = frame.bindings[el.var]
                if b.kind != "node" or b.label is None:
                    raise DmlError(f"{el.var!r} is not a labeled node variable")
                id_exprs.append(F.col(_ncol(el.var, ID)))
                labels.append(b.label)
            else:
                if not el.labels:
                    raise DmlError("INSERT node needs a label or bound variable")
                id_exprs.append(F.lit(_new_node(stage, el, params, new)))
                labels.append(el.labels[0])
        for i, el in enumerate(elems[1::2]):
            if not el.types:
                raise DmlError("INSERT edge needs a type")
            props = _literal_props(el.props, params, stage.graph.spark)
            src_i, dst_i = (i, i + 1) if el.direction != "in" else (i + 1, i)
            edges.append((el.types[0], (labels[src_i], labels[dst_i]),
                          id_exprs[src_i], id_exprs[dst_i], props))
    counted: list = _insert(stage, new)
    matched = _matched(frame, [c for e in edges for c in e[2:4]]) \
        if edges else ([], None)
    for j, (etype, ends, src, dst, props) in enumerate(edges):
        stage.ends.setdefault(etype, ends)
        if matched is not None:
            rows, schema = matched
            pairs = dict.fromkeys((r[2 * j], r[2 * j + 1]) for r in rows
                                  if None not in (r[2 * j], r[2 * j + 1]))
            # typed, so a new edge type that matched nothing still has
            # its endpoint and property columns
            stage.put(etype, True, [{SRC: s, DST: d, **props} for s, d in pairs],
                      {SRC: schema[2 * j].dataType,
                       DST: schema[2 * j + 1].dataType,
                       **_inferred(props)})
            counted.append(len(pairs))
            continue
        df, n = stage.observe(frame.df.select(
            src.alias(SRC), dst.alias(DST),
            *[F.lit(v).alias(k) for k, v in props.items()],
        ).dropDuplicates([SRC, DST]), F.count(F.lit(1)))
        if stage.get(etype, True) is not None:
            df = stage.view(etype, True).unionByName(df, allowMissingColumns=True)
        stage.rewrite(etype, True, df)
        counted.append(n)
    return counted


def _binding(frame, var):
    b = frame.bindings.get(var)
    if b is None:
        raise DmlError(f"unbound variable {var!r}")
    return b


def _set(stage: Staged, frame, stmt, params) -> list:
    """SET / REMOVE node properties: the matched nodes' rows, tombstoned
    and appended changed. Returns the count of nodes each item matched."""
    items = []  # (var, label, prop, value)
    for it in stmt.set_items:
        b = _binding(frame, it.var)
        if b.kind != "node":
            raise DmlError("SET supports node properties (edge SET: planned)")
        if it.label is not None:
            raise DmlError("SET label is not supported yet")
        if b.label is None:
            raise DmlError("SET target must have a known label")
        items.append((it.var, b.label, it.prop,
                      ExprCompiler(frame, params).compile(it.value)))
    for var, prop in stmt.remove_items:
        b = _binding(frame, var)
        if b.kind != "node" or b.label is None:
            raise DmlError("REMOVE supports labeled node properties")
        if prop in stage.graph.nodes[b.label].columns:
            items.append((var, b.label, prop, F.lit(None)))
    if not items:
        return []
    # every var's whole row comes from the frame: one job, no join back
    cols = {var: stage.graph.nodes[label].columns for var, label, *_ in items}
    matched = None
    if all(set(c) <= set(frame.bindings[v].props) for v, c in cols.items()):
        matched = _matched(frame, [
            *[F.col(_ncol(v, c)) for v, cs in cols.items() for c in cs],
            *[value for *_, value in items]])
    if matched is None:
        return [_rewrite_prop(stage, frame, stmt.matches, var, prop, value)
                for var, _label, prop, value in items]
    rows, schema = matched
    start, at = {}, 0
    for v, cs in cols.items():
        start[v], at = at, at + len(cs)
    changed: dict[str, dict] = {}  # label -> id -> row
    types: dict[str, dict] = {}
    counted = []
    for j, (var, label, prop, _value) in enumerate(items):
        s, cs = start[var], cols[var]
        mine = changed.setdefault(label, {})
        ty = types.setdefault(label, {})
        ty.update((c, schema[s + k].dataType) for k, c in enumerate(cs))
        ty[prop] = schema[at + j].dataType
        seen = set()
        for r in rows:
            i = r[s + cs.index(ID)]
            if i is None or i in seen:
                continue
            seen.add(i)
            row = mine.get(i) or dict(zip(cs, r[s:s + len(cs)]))
            row[prop] = r[at + j]
            mine[i] = row
        counted.append(len(seen))
    for label, by_id in changed.items():
        stage.drop(label, False, set(by_id))
        stage.put(label, False, list(by_id.values()), types[label])
    return counted


def _rewrite_prop(stage: Staged, frame, matches, var, prop, value) -> str:
    """Rewrite ``var``'s node table with ``prop`` (new column if need be)
    set to ``value`` on the matched nodes; return the name of the metric
    counting them. A match of the lone node ``var`` has one row per node
    (ids are unique per label), any longer pattern can repeat ``var``:
    only then are the ids deduped."""
    label = frame.bindings[var].label
    nodes = stage.view(label, False)
    new_vals = frame.df.select(F.col(_ncol(var, ID)).alias(_TID),
                               value.alias(_VAL))
    if any(len(p.elements) > 1 or p.elements[0].var != var
           for m in matches for p in m.patterns):
        new_vals = new_vals.dropDuplicates([_TID])
    joined, n = stage.observe(
        nodes.join(new_vals, nodes[ID] == F.col(_TID), "left"), F.count(_TID))
    new = F.when(F.col(_TID).isNotNull(), F.col(_VAL))
    if prop in nodes.columns:
        new = new.otherwise(F.col(prop))
    stage.rewrite(label, False, joined.withColumn(prop, new).drop(_TID, _VAL))
    return n


def _incident(graph: PropertyGraph, label: str):
    """(edge type, endpoint column) of every edge end at ``label``."""
    return [(name, c) for name, et in graph.edges.items()
            for c, end in ((SRC, et.src_label), (DST, et.dst_label))
            if end == label]


def _delete(stage: Staged, frame, stmt, _params) -> list:
    """DELETE / DETACH DELETE the matched nodes and edges: tombstone their
    keys. Returns the count of distinct keys each variable matched."""
    detach = stmt.action == "DETACH_DELETE"
    targets = []  # (var, table, is edge, key columns)
    for var in stmt.delete_vars:
        b = _binding(frame, var)
        if b.kind == "edge" and b.label is None:
            raise DmlError("DELETE edge requires a single edge type")
        if b.kind != "edge" and b.label is None:
            raise DmlError("DELETE target must have a known label")
        edge = b.kind == "edge"
        targets.append((var, b.label, edge, [SRC, DST] if edge else [ID]))
    matched = _matched(frame, [F.col(_ncol(var, c))
                               for var, _l, _e, cs in targets for c in cs])
    if matched is None:
        return [_drop_frame(stage, frame, var, detach) for var in stmt.delete_vars]
    counted, at = [], 0
    for var, label, edge, cs in targets:
        keys = {r[at] if not edge else (r[at], r[at + 1])
                for r in matched[0] if r[at] is not None}
        at += len(cs)
        if not edge and not detach:
            _refuse_incident(stage, var, label, keys)
        elif not edge:
            for ename, c in _incident(stage.graph, label):
                stage.drop(ename, True, {(i, None) if c == SRC else (None, i)
                                         for i in keys})
        stage.drop(label, edge, keys)
        counted.append(len(keys))
    return counted


def _refuse_incident(stage: Staged, var, label: str, ids: set | DataFrame):
    """Raise if an edge as staged so far ends at one of the ``label``
    nodes ``ids`` (a set, or a DataFrame of ``_TID`` that may repeat):
    one job over the incident edge types."""
    if isinstance(ids, set) and not ids:
        return
    probes = []
    for name, c in _incident(stage.graph, label):
        view = stage.view(name, True)
        hits = view.join(ids, F.col(c) == F.col(_TID), "left_semi") \
            if isinstance(ids, DataFrame) \
            else view.where(keys_in([c], [(i,) for i in ids]))
        probes.append(hits.select(F.lit(name)).limit(1))
    hit = sorted({r[0] for r in functools.reduce(
        DataFrame.unionAll, probes).collect()}) if probes else []
    if hit:
        raise DmlError(f"cannot DELETE {var}: incident edges exist "
                       f"({hit}); use DETACH DELETE")


def _drop_matched(stage: Staged, df: DataFrame, keys: DataFrame, on):
    """``df`` without its rows that join ``keys`` (may repeat) ``on``,
    and the name of the metric counting the distinct keys that matched,
    taken before the filter drops the matched rows."""
    joined = df.join(keys, on, "left")
    hit = F.col(keys.columns[0]).isNotNull()
    joined, n = stage.observe(joined, F.size(F.collect_set(
        F.when(hit, F.struct(*keys.columns)))))
    return joined.filter(~hit).drop(*keys.columns), n


def _drop_frame(stage: Staged, frame, var, detach: bool) -> str:
    """DELETE ``var`` for a match past ``FOLD_AT``: rewrite its table and,
    for a DETACH DELETE of a node, its incident edge types without the
    matched keys."""
    b = frame.bindings[var]
    if b.kind == "edge":
        pairs = frame.df.select(F.col(_ncol(var, SRC)).alias(_SRC),
                                F.col(_ncol(var, DST)).alias(_DST))
        df, n = _drop_matched(
            stage, stage.view(b.label, True), pairs,
            (F.col(SRC) == F.col(_SRC)) & (F.col(DST) == F.col(_DST)))
        stage.rewrite(b.label, True, df)
        return n
    ids = frame.df.select(F.col(_ncol(var, ID)).alias(_TID))
    if not detach:
        _refuse_incident(stage, var, b.label, ids)
    else:
        for ename, c in _incident(stage.graph, b.label):
            stage.rewrite(ename, True, stage.view(ename, True).join(
                ids, F.col(c) == F.col(_TID), "left_anti"))
    df, n = _drop_matched(stage, stage.view(b.label, False), ids,
                          F.col(ID) == F.col(_TID))
    stage.rewrite(b.label, False, df)
    return n
