"""DML execution: INSERT / MATCH-SET / MATCH-REMOVE / MATCH-DELETE.

Spark-first rendition of the reference write engine (GraphLite
`graphlite/src/exec/write_engine/operations/{insert,match_set,
match_delete,match_remove}.rs`), copy-on-write through one path: a
statement stages the new DataFrame of each table it touches (INSERT
union, SET/REMOVE rewrite, DELETE anti-join, DETACH's incident edge
tables); ``commit`` checkpoints each once, cutting its lineage, and
publishes them together only after all succeeded, so a statement that
raises changes no table. What it reports (rows_affected, duplicates,
the incident edges a plain DELETE refuses) are ``observe`` metrics
riding those checkpoints. An INSERTed property whose value is NULL is
absent, as everywhere else in the engine (REMOVE, reads, the duplicate
match): it does not enter the content hash, the row or the table's
columns, and a read returns NULL for it. A value no column type can
hold (an empty list) is refused with the property's name. The rows an
INSERT adds enter Spark as local relations (``local_frame``). START
TRANSACTION snapshots the table dict, ROLLBACK restores it (optimistic,
last-writer-wins; the reference's interactive isolation levels don't
map 1:1, see README).
"""

from __future__ import annotations

from collections import ChainMap
from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import _has_nulltype, _infer_type

from .catalog import content_hash_id
from .graph import DST, ID, SRC, EdgeType, PropertyGraph
from .gql import ast as A
from .gql.compiler import (CompileError, ExprCompiler, Frame, QueryCompiler,
                           _ncol)
from .gql.statements import InsertStmt, MatchMutateStmt
from .operators.common import _ck_cut_stats, local_frame

# helper columns of staged frames: matched node id and its SET value,
# matched edge endpoints; none survives into a published table
_TID, _VAL, _SRC, _DST = "__tid", "__val", "__src", "__dst"


class DmlError(ValueError):
    pass


class Staged:
    """One statement's new tables, not yet published: ``nodes``/``edges``
    read through to the graph's, and a table staged twice composes both
    rewrites. ``checks`` run on the metrics before anything publishes."""

    def __init__(self, graph: PropertyGraph):
        self.graph = graph
        self.nodes = ChainMap({}, graph.nodes)
        self.edges = ChainMap({}, graph.edges)
        self.checks: list = []
        self._observations: list[Observation] = []

    def observe(self, df: DataFrame, metric) -> tuple[DataFrame, str]:
        """``df`` with ``metric`` attached, and its name in ``commit``'s
        result. A metric only inside a join's broadcast side may never be
        computed: the optimizer drops a side it proves empty."""
        name = f"m{len(self._observations)}"
        self._observations.append(Observation())
        return df.observe(self._observations[-1], metric.alias(name)), name


def commit(graph: PropertyGraph, staged: Staged) -> dict:
    """Publish every table ``staged`` holds, or none of them; return the
    observed metrics by name.

    Each staged table is checkpointed once, eagerly, with Catalyst's
    size stats reset (``_ck_cut_stats``); the metrics ride those jobs.
    Uncut, n mutations build an n-deep plan of the MUTATIONS' OWN PLANS
    that every later statement re-executes while the non-CBO join-stats
    product compounds per level (11 single-edge inserts once took 430 s;
    a SET-only history doubled the Person plan with every SET). DML
    frames are small: the cut costs milliseconds and keeps every
    statement O(current data), not O(history)."""
    nodes = {label: _cut(df, graph.nodes.get(label))
             for label, df in staged.nodes.maps[0].items()}
    edges = {name: replace(et, df=_cut(et.df, graph.edges[name].df
                                       if name in graph.edges else None))
             for name, et in staged.edges.maps[0].items()}
    metrics = {k: v for o in staged._observations for k, v in o.get.items()}
    for check in staged.checks:
        check(metrics)
    graph.nodes.update(nodes)
    graph.edges.update(edges)
    return metrics


def _cut(df: DataFrame, old: DataFrame | None) -> DataFrame:
    # an append adds partitions: hold the table at the count it had, or
    # a long insert history splits every scan into ever more tiny tasks
    if old is not None:
        df = df.coalesce(max(1, old.rdd.getNumPartitions()))
    return _ck_cut_stats(df)


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
    inserted: list[tuple[str, str]] = []  # (metric, duplicate warning)
    for pat in stmt.patterns:
        elems = pat.elements
        node_ids: list = []
        node_labels: list[str] = []
        # nodes first
        for el in elems[::2]:
            if not el.labels:
                raise DmlError("INSERT node needs a label")
            nid, n = _stage_node(stage, el, params)
            node_ids.append(nid)
            node_labels.append(el.labels[0])
            inserted.append((n, f"Duplicate node detected (content hash "
                                f"{nid}); insert skipped"))
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
            et = stage.edges.get(etype) or EdgeType(
                etype, None, node_labels[src_i], node_labels[dst_i])
            row = {SRC: node_ids[src_i], DST: node_ids[dst_i], **props}
            stage.edges[etype], n = _append(
                stage, et, local_frame(graph.spark, [row]),
                _stored_match(et.df, row))
            inserted.append((n, f"Duplicate edge detected ({node_ids[src_i]})"
                                f"-[:{etype}]->({node_ids[dst_i]}); "
                                "insert skipped"))
    metrics = commit(graph, stage)
    if warnings is not None:
        warnings.extend(w for m, w in inserted if not metrics[m])
    return sum(metrics[m] for m, _ in inserted)


def _stage_node(stage: Staged, el, params) -> tuple[Any, str]:
    """Stage the literal node element ``el``; return its id and the name
    of the metric counting it (0: a duplicate). On a table with a
    natural numeric key the content hash folds into a positive long
    (first 60 bits): a string id there is a latent ANSI cast failure."""
    graph = stage.graph
    props = _literal_props(el.props, params, graph.spark)
    if graph.graph_type is not None:
        graph.graph_type.validate_node(el.labels, props)
    nid = content_hash_id(el.labels, props)
    old = stage.nodes.get(el.labels[0])
    if old is not None and dict(old.dtypes).get(ID) != "string":
        nid = int(nid[:15], 16)
    stage.nodes[el.labels[0]], n = _append(
        stage, old, local_frame(graph.spark, [{ID: nid, **props}]),
        F.col(ID) == F.lit(nid))
    return nid, n


def _stored_match(df: DataFrame | None, row: dict):
    """Condition a stored row of ``df`` meets iff every column null-safe
    equals ``row``'s value (absent: NULL). None when no stored row can:
    ``row`` has a column ``df`` lacks (value.rs content identity covers
    all properties), or a value the column's type can't hold (comparing
    would be an ANSI cast error, not a match)."""
    if df is None or set(row) - set(df.columns):
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


def _append(stage: Staged, old, new: DataFrame, dup=None):
    """``old`` (node table, EdgeType or None) plus ``new`` (new props are
    NULL on old rows), and the name of the metric counting the rows
    appended. A one-row ``new`` is a duplicate, dropped, if a stored row
    (the statement's own included; few: broadcast) meets ``dup``."""
    df = old.df if isinstance(old, EdgeType) else old
    if df is not None and dup is not None:
        stored = F.broadcast(df.where(dup).select(F.lit(1).alias("__dup")))
        new = new.join(stored, how="left_anti")
    new, n = stage.observe(new, F.count(F.lit(1)))
    if df is not None:
        new = df.unionByName(new, allowMissingColumns=True)
    return (replace(old, df=new) if isinstance(old, EdgeType) else new), n


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
    stage = Staged(graph)
    if stmt.action == "SET":
        counted = [_stage_set(stage, frame, stmt.matches, item, params)
                   for item in stmt.set_items]
    elif stmt.action == "REMOVE":
        counted = [_stage_remove(stage, frame, stmt.matches, var, prop)
                   for var, prop in stmt.remove_items]
    elif stmt.action in ("DELETE", "DETACH_DELETE"):
        counted = [_stage_delete(stage, frame, var,
                                 detach=stmt.action == "DETACH_DELETE")
                   for var in stmt.delete_vars]
    elif stmt.action == "INSERT":
        counted = _stage_match_insert(stage, frame, stmt.insert_patterns,
                                      params)
    else:
        raise DmlError(f"unknown action {stmt.action}")
    metrics = commit(graph, stage)
    return sum(metrics[m] for m in counted if m is not None)


def _stage_match_insert(stage: Staged, frame, patterns, params) -> list:
    """MATCH ... INSERT (a)-[:T {..}]->(b): connect matched nodes
    (match_insert.rs). Node elements must be bound match variables or
    literal-only new nodes, staged like INSERT's; edges append per
    distinct endpoint pair. Returns the names of the counting metrics."""
    counted = []
    for pat in patterns:
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
                nid, n = _stage_node(stage, el, params)
                counted.append(n)
                id_exprs.append(F.lit(nid))
                labels.append(el.labels[0])
        for i, el in enumerate(elems[1::2]):
            if not el.types:
                raise DmlError("INSERT edge needs a type")
            etype = el.types[0]
            props = _literal_props(el.props, params, stage.graph.spark)
            src_i, dst_i = (i, i + 1) if el.direction != "in" else (i + 1, i)
            et = stage.edges.get(etype) or EdgeType(
                etype, None, labels[src_i], labels[dst_i])
            stage.edges[etype], n = _append(stage, et, frame.df.select(
                id_exprs[src_i].alias(SRC),
                id_exprs[dst_i].alias(DST),
                *[F.lit(v).alias(k) for k, v in props.items()],
            ).dropDuplicates([SRC, DST]))
            counted.append(n)
    return counted


def _binding(frame, var):
    b = frame.bindings.get(var)
    if b is None:
        raise DmlError(f"unbound variable {var!r}")
    return b


def _stage_set(stage: Staged, frame, matches, item, params) -> str:
    b = _binding(frame, item.var)
    if b.kind != "node":
        raise DmlError("SET supports node properties (edge SET: planned)")
    if item.label is not None:
        raise DmlError("SET label is not supported yet")
    if b.label is None:
        raise DmlError("SET target must have a known label")
    value = ExprCompiler(frame, params).compile(item.value)
    return _rewrite_prop(stage, frame, matches, item.var, item.prop, value)


def _stage_remove(stage: Staged, frame, matches, var, prop) -> str | None:
    b = _binding(frame, var)
    if b.kind != "node" or b.label is None:
        raise DmlError("REMOVE supports labeled node properties")
    if prop in stage.nodes[b.label].columns:
        return _rewrite_prop(stage, frame, matches, var, prop, F.lit(None))
    return None


def _rewrite_prop(stage: Staged, frame, matches, var, prop, value) -> str:
    """Stage ``var``'s node table with ``prop`` (new column if need be)
    set to ``value`` on the matched nodes, whose ids are few (broadcast);
    return the name of the metric counting them. A match of the lone
    node ``var`` has one row per node (ids are unique per label), any
    longer pattern can repeat ``var``: only then are the ids deduped."""
    label = frame.bindings[var].label
    nodes = stage.nodes[label]
    new_vals = frame.df.select(F.col(_ncol(var, ID)).alias(_TID),
                               value.alias(_VAL))
    if any(len(p.elements) > 1 or p.elements[0].var != var
           for m in matches for p in m.patterns):
        new_vals = new_vals.dropDuplicates([_TID])
    joined, n = stage.observe(nodes.join(
        F.broadcast(new_vals), nodes[ID] == F.col(_TID), "left"),
        F.count(_TID))
    new = F.when(F.col(_TID).isNotNull(), F.col(_VAL))
    if prop in nodes.columns:
        new = new.otherwise(F.col(prop))
    stage.nodes[label] = joined.withColumn(prop, new).drop(_TID, _VAL)
    return n


def _drop_matched(stage: Staged, df: DataFrame, keys: DataFrame, on):
    """``df`` without its rows that join ``keys`` (broadcast, may repeat)
    ``on``, and the name of the metric counting the distinct keys that
    matched, taken before the filter drops the matched rows."""
    joined = df.join(F.broadcast(keys), on, "left")
    hit = F.col(keys.columns[0]).isNotNull()
    joined, n = stage.observe(joined, F.size(F.collect_set(
        F.when(hit, F.struct(*keys.columns)))))
    return joined.filter(~hit).drop(*keys.columns), n


def _stage_delete(stage: Staged, frame, var, detach: bool) -> str:
    b = _binding(frame, var)
    if b.kind == "edge":
        # delete matched edges of this type by (src,dst) pair
        if b.label is None:
            raise DmlError("DELETE edge requires a single edge type")
        et = stage.edges[b.label]
        pairs = frame.df.select(F.col(_ncol(var, SRC)).alias(_SRC),
                                F.col(_ncol(var, DST)).alias(_DST))
        df, n = _drop_matched(
            stage, et.df, pairs,
            (F.col(SRC) == F.col(_SRC)) & (F.col(DST) == F.col(_DST)))
        stage.edges[b.label] = replace(et, df=df)
        return n
    if b.label is None:
        raise DmlError("DELETE target must have a known label")
    ids = frame.df.select(F.col(_ncol(var, ID)).alias(_TID))
    incident = {}  # metric name -> edge type
    for ename, et in list(stage.edges.items()):
        df = et.df
        for c, end in ((SRC, et.src_label), (DST, et.dst_label)):
            if end == b.label:
                df, m = _drop_matched(stage, df, ids, F.col(c) == F.col(_TID))
                incident[m] = ename
        if df is not et.df:
            stage.edges[ename] = replace(et, df=df)

    def refuse_incident(metrics):
        if hit := sorted({e for m, e in incident.items() if metrics[m]}):
            raise DmlError(f"cannot DELETE {var}: incident edges exist "
                           f"({hit}); use DETACH DELETE")
    if not detach:
        stage.checks.append(refuse_incident)
    stage.nodes[b.label], n = _drop_matched(
        stage, stage.nodes[b.label], ids, F.col(ID) == F.col(_TID))
    return n
