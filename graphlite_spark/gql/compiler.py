"""GQL AST → PySpark DataFrame compiler.

This is the Spark-first replacement for the reference's planner +
interpreter (GraphLite `graphlite/src/plan/builders/logical_builder.rs`,
`plan/pattern_optimization/*`, `exec/executor.rs:3449-3750`): instead of
building a physical plan and interpreting it row-at-a-time, we compile
the AST into lazy DataFrame transformations and let Catalyst do
predicate pushdown, column pruning, join selection (broadcast/SMJ/
shuffled-hash) and AQE re-planning.

Frame model: a query pipeline is compiled into a single DataFrame whose
columns are namespaced per bound variable: property ``p`` of variable
``n`` lives in column ``n__p``; a node/edge's identity is its ``_id``
property (column ``n___id``). WITH/UNWIND re-bind the namespace exactly
like the reference's WITH-clause processor
(read_engine/processors/with_clause_processor.rs:42-231).

Each table enters a frame through one ``select`` (``_enter``, and the
edge select in ``_expand``): it renames the columns into the variable's
namespace, keeps only the properties the query reads (``_projected``;
all of them when the footprint is unknown) and computes the elided
anchor's and target's ids, keys and same-row properties from the edge
row (``_endpoint``). Where the graph declares keys (``graph.py``), joins
and key predicates use the raw key columns, so they reach the scan. Each DataFrame op is an eager Catalyst analysis plus JVM round
trips, so the number of ops, not the size of each, sets compile time.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.registry import AGGREGATES, compile_cast, compile_function
from ..graph import DST, ID, SRC, PropertyGraph
from . import ast as A

MAX_PATH_HOPS = 12  # safety cap for unrolled variable-length paths


class CompileError(ValueError):
    pass


@dataclass
class Binding:
    kind: str  # node | edge | value | path
    label: Optional[str] = None  # node label / edge type (when known)
    props: list[str] = field(default_factory=list)

    def col(self, var: str, prop: str) -> str:
        return f"{var}__{prop}"


@dataclass
class Frame:
    df: DataFrame
    bindings: dict[str, Binding] = field(default_factory=dict)

    def clone(self) -> "Frame":
        return Frame(self.df, dict(self.bindings))


def _ncol(var: str, prop: str) -> str:
    return f"{var}__{prop}"


def _enter(df: DataFrame, var: str, props: list[str], *derived: Column) -> DataFrame:
    """The one select through which a table enters a frame: ``props``
    renamed into ``var``'s namespace, plus columns computed from the
    table's own columns."""
    return df.select(*[F.col(p).alias(_ncol(var, p)) for p in props], *derived)


_anon_counter = itertools.count()


def _anon() -> str:
    return f"_a{next(_anon_counter)}"


_NFC_UDF = None


def _nfc_normalized():
    """Arrow-vectorized Unicode NFC check for IS NORMALIZED (the
    reference's check_normalized, executor.rs:8871-8881, is a stub that
    trusts all strings). Cached so the UDF is built once per process;
    nulls are not normalized (non-string rule)."""
    global _NFC_UDF
    if _NFC_UDF is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def nfc(s):
            import unicodedata

            return s.map(
                lambda x: False if x is None
                else unicodedata.is_normalized("NFC", x)
            )

        # bind real objects: `from __future__ import annotations` would
        # stringify inline hints and break pandas_udf type inference
        nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
        _NFC_UDF = pandas_udf(nfc, "boolean")
    return _NFC_UDF


# ---------------------------------------------------------------------------
# Expression compilation


class ExprCompiler:
    def __init__(self, frame: Frame, params: dict[str, Any] | None = None,
                 allow_agg: bool = False):
        self.frame = frame
        self.params = params or {}
        self.allow_agg = allow_agg

    def compile(self, e: A.Expr) -> Column:
        m = getattr(self, f"_c_{type(e).__name__}", None)
        if m is None:
            raise CompileError(f"unsupported expression node {type(e).__name__}")
        return m(e)

    # -- leaves --
    def _c_Literal(self, e: A.Literal) -> Column:
        return F.lit(e.value)

    def _c_ListLiteral(self, e: A.ListLiteral) -> Column:
        return F.array(*[self.compile(x) for x in e.items])

    def _c_PathLit(self, e: A.PathLit) -> Column:
        """PATH [n1, e1, n2, ...] -> this engine's path value: the
        array<long> of NODE ids (even-index elements). The reference
        (exec/executor.rs:4900-4954) attaches odd-index edge ids to a
        PathElement; our path representation — the same one `MATCH p =`
        binds — carries node ids only, so edge elements are validated
        (compiled) and then elided. Documented divergence, SURVEY §8."""
        nodes = [self.compile(x) for i, x in enumerate(e.items) if i % 2 == 0]
        # compile odd elements too: a bad edge expression should still error
        for i, x in enumerate(e.items):
            if i % 2 == 1:
                self.compile(x)
        if not nodes:
            return F.array().cast("array<long>")
        return F.array(*[c.cast("long") for c in nodes])

    def _c_Param(self, e: A.Param) -> Column:
        if e.name not in self.params:
            raise CompileError(f"missing parameter ${e.name}")
        v = self.params[e.name]
        return F.array(*[F.lit(x) for x in v]) if isinstance(v, (list, tuple)) else F.lit(v)

    def _c_Var(self, e: A.Var) -> Column:
        b = self.frame.bindings.get(e.name)
        if b is None:
            raise CompileError(f"unbound variable {e.name!r}")
        if b.kind == "value":
            return F.col(e.name)
        if b.kind in ("node", "edge"):
            # entity as a value: struct of its properties (stable field order)
            return F.struct(
                *[F.col(_ncol(e.name, p)).alias(p) for p in sorted(b.props)]
            )
        raise CompileError(f"cannot use {b.kind} variable {e.name!r} as a value")

    def entity_id(self, var: str) -> Column:
        b = self.frame.bindings.get(var)
        if b is None or b.kind not in ("node", "edge"):
            raise CompileError(f"{var!r} is not a bound entity")
        return F.col(_ncol(var, ID))

    def _entity_notnull(self, var: str) -> Column:
        """True when the bound entity is present on this row (false on an
        OPTIONAL MATCH miss). Nodes probe _id; edges probe _src — edge
        bindings don't always materialize an _id column."""
        b = self.frame.bindings.get(var)
        if b is None or b.kind not in ("node", "edge"):
            raise CompileError(f"{var!r} is not a bound entity")
        if b.kind == "node":
            return F.col(_ncol(var, ID)).isNotNull()
        for probe in (SRC, DST, ID):
            if probe in b.props:
                return F.col(_ncol(var, probe)).isNotNull()
        return F.lit(True)

    def _c_Prop(self, e: A.Prop) -> Column:
        b = self.frame.bindings.get(e.var)
        if b is None:
            # `p.name` after a projection that emitted an unaliased
            # dotted column of that name (reference rows are keyed by
            # the formatted expression text)
            dotted = f"{e.var}.{e.key}"
            db_ = self.frame.bindings.get(dotted)
            if db_ is not None and db_.kind == "value":
                return F.col(f"`{dotted}`")
            raise CompileError(f"unbound variable {e.var!r}")
        if b.kind == "value":
            # struct field access on a value column
            return F.col(e.var).getField(e.key)
        if e.key in b.props:
            return F.col(_ncol(e.var, e.key))
        # GraphLite returns NULL for a missing property
        return F.lit(None)

    # -- operators --
    def _c_Unary(self, e: A.Unary) -> Column:
        c = self.compile(e.operand)
        if e.op == "NOT":
            return ~c
        if e.op == "-":
            return -c
        return c

    def _c_Binary(self, e: A.Binary) -> Column:
        op = e.op
        if op == "AND":
            return self.compile(e.left) & self.compile(e.right)
        if op == "OR":
            return self.compile(e.left) | self.compile(e.right)
        if op == "XOR":
            l, r = self.compile(e.left), self.compile(e.right)
            return (l & ~r) | (~l & r)
        if op == "IN":
            lc = self.compile(e.left)
            if isinstance(e.right, A.ListLiteral):
                return lc.isin([x.value for x in e.right.items
                                if isinstance(x, A.Literal)]) \
                    if all(isinstance(x, A.Literal) for x in e.right.items) \
                    else F.array_contains(self.compile(e.right), lc)
            return F.array_contains(self.compile(e.right), lc)
        # entity comparisons by identity (SURVEY §2.7 / executor.rs:9466-9525)
        if op in ("=", "<>") and isinstance(e.left, A.Var) and isinstance(e.right, A.Var):
            lb = self.frame.bindings.get(e.left.name)
            rb = self.frame.bindings.get(e.right.name)
            if lb and rb and lb.kind in ("node", "edge") and rb.kind in ("node", "edge"):
                l, r = self.entity_id(e.left.name), self.entity_id(e.right.name)
                return l == r if op == "=" else l != r
        l = self.compile(e.left)
        r = self.compile(e.right)
        if op == "+":
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            return l / r
        if op == "%":
            return l % r
        if op == "^":
            return F.pow(l, r)
        if op == "=":
            return l == r
        if op == "<>":
            return l != r
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        if op == ">=":
            return l >= r
        if op == "||":
            return F.concat(l.cast("string"), r.cast("string"))
        if op == "CONTAINS":
            return l.contains(r)
        if op == "STARTS_WITH":
            return l.startswith(r)
        if op == "ENDS_WITH":
            return l.endswith(r)
        if op == "LIKE":
            return l.like(e.right.value) if isinstance(e.right, A.Literal) else l.like(r)
        if op == "=~":
            return l.rlike(e.right.value) if isinstance(e.right, A.Literal) else l.rlike(r)
        if op == "~=":
            # fuzzy equal (executor.rs FuzzyEqual): case-insensitive trimmed eq
            return F.lower(F.trim(l.cast("string"))) == F.lower(F.trim(r.cast("string")))
        if op == "WITHIN":
            # temporal value within TimeWindow struct(start,end)
            return (l >= r.getField("start")) & (l <= r.getField("end"))
        raise CompileError(f"unsupported binary operator {op}")

    def _var_binding(self, e: A.Expr) -> Optional[Binding]:
        if isinstance(e, A.Var):
            return self.frame.bindings.get(e.name)
        return None

    def _static_type(self, c: Column):
        """Resolve a compiled column's Spark type against the frame schema
        (None when the expression can't be projected, e.g. agg context)."""
        try:
            return self.frame.df.select(c.alias("_t")).schema[0].dataType
        except Exception:
            return None

    def _c_IsPredicate(self, e: A.IsPredicate) -> Column:
        # semantics: executor.rs:8781-8898 (evaluate_is_predicate); where
        # the reference stubs topology checks to `false` (DIRECTED/SOURCE/
        # DESTINATION, executor.rs:8808-8822) we implement the real check —
        # our edge tables carry _src/_dst — and document the divergence.
        what = e.what
        if what in ("NULL", "TRUE", "FALSE", "UNKNOWN"):
            c = self.compile(e.operand)
            if what == "NULL" or what == "UNKNOWN":
                out = c.isNull()
            elif what == "TRUE":
                out = c.eqNullSafe(F.lit(True))
            else:
                out = c.eqNullSafe(F.lit(False))
        elif what == "NORMALIZED":
            # check_normalized (executor.rs:8871-8881) trusts all strings;
            # we do the real Unicode NFC check, vectorized via Arrow.
            from pyspark.sql.types import StringType

            c = self.compile(e.operand)
            if not isinstance(self._static_type(c), StringType):
                out = F.lit(False)
            else:
                out = _nfc_normalized()(c)
        elif what == "DIRECTED":
            # every stored edge is directed (storage/types.rs:128-134);
            # reference stubs this to false — we answer from the model.
            # Null subjects (OPTIONAL MATCH miss) are not directed: the
            # reference evaluates the base result false for Value::Null
            # (exec/executor.rs:8808-8811), negation flips it after.
            b = self._var_binding(e.operand)
            if b is not None and b.kind == "edge":
                out = self._entity_notnull(e.operand.name)
            else:
                out = F.lit(False)
        elif what in ("SOURCE", "DESTINATION"):
            # n IS SOURCE OF e  <=>  id(n) == e._src  (real topology; the
            # reference returns false pending "full topology support").
            # coalesce: a null endpoint (OPTIONAL miss) is base-false, not
            # UNKNOWN, so NOT still yields true per the reference.
            nb = self._var_binding(e.operand)
            tb = self._var_binding(e.target) if e.target is not None else None
            if (
                nb is None or nb.kind != "node"
                or tb is None or tb.kind != "edge"
            ):
                out = F.lit(False)
            else:
                end = SRC if what == "SOURCE" else DST
                out = F.coalesce(
                    self.entity_id(e.operand.name)
                    == F.col(_ncol(e.target.name, end)),
                    F.lit(False),
                )
        elif what == "TYPED":
            # check_type_match (executor.rs:8884-8898): runtime numbers
            # match INTEGER/FLOAT/DOUBLE, strings STRING, booleans BOOLEAN;
            # everything else is false. Resolved statically from the plan
            # schema; null values are not typed (Value::Null arm -> false).
            from pyspark.sql.types import (
                BooleanType, ByteType, DecimalType, DoubleType, FloatType,
                IntegerType, LongType, ShortType, StringType,
            )

            c = self.compile(e.operand)
            dt = self._static_type(c)
            tn = (e.type_name or "").rstrip("0123456789")
            numeric = (ByteType, ShortType, IntegerType, LongType,
                       FloatType, DoubleType, DecimalType)
            matched = (
                (isinstance(dt, numeric)
                 and tn in ("INTEGER", "INT", "BIGINT", "SMALLINT",
                            "FLOAT", "DOUBLE", "REAL", "DECIMAL", "NUMERIC"))
                or (isinstance(dt, StringType) and tn in ("STRING", "VARCHAR", "CHAR"))
                or (isinstance(dt, BooleanType) and tn in ("BOOLEAN", "BOOL"))
            )
            out = (c.isNotNull() & F.lit(True)) if matched else F.lit(False)
        elif what == "LABEL":
            # label membership (executor.rs:8832-8862): '%' matches any
            # labeled entity; our storage matches per-row via the binding's
            # label (single-label row instances, see graph.py docstring) or
            # the _label column a label-free/alternation scan carries.
            # Divergence vs reference: the reference's Label arm accepts
            # only nodes (as_node(), executor.rs:8833); we also answer
            # `edge IS :Type` from the edge binding (SURVEY §8). Null
            # subjects are base-false (reference returns false for
            # Value::Null; the trailing negation then flips it).
            b = self._var_binding(e.operand)
            wanted = [l for l in (e.labels or ()) if l != "%"]
            wild = "%" in (e.labels or ())
            if b is None or b.kind not in ("node", "edge"):
                out = F.lit(False)
            else:
                nn = self._entity_notnull(e.operand.name)
                if wild:
                    out = nn
                elif b.label is not None:
                    out = nn & F.lit(b.label in wanted)
                elif "_label" in b.props:
                    out = nn & F.coalesce(
                        F.col(_ncol(e.operand.name, "_label")).isin(wanted),
                        F.lit(False),
                    )
                else:
                    out = F.lit(False)
        else:
            raise CompileError(f"IS {e.what} unsupported")
        return ~out if e.negated else out

    def _c_Case(self, e: A.Case) -> Column:
        out = None
        for cond, res in e.whens:
            c = (
                (self.compile(e.operand) == self.compile(cond))
                if e.operand is not None
                else self.compile(cond)
            )
            out = F.when(c, self.compile(res)) if out is None else out.when(c, self.compile(res))
        if out is None:
            raise CompileError("CASE with no WHEN")
        return out.otherwise(self.compile(e.else_)) if e.else_ is not None else out

    def _c_Cast(self, e: A.Cast) -> Column:
        return compile_cast(self.compile(e.operand), e.type_name)

    def _c_Index(self, e: A.Index) -> Column:
        c = self.compile(e.operand)
        i = self.compile(e.index)
        # GQL list indexing is 1-based in ISO GQL; element_at is 1-based.
        return F.element_at(c, i.cast("int"))

    def _c_Quantified(self, e: A.Quantified) -> Column:
        arr = self.compile(e.right)
        lv = self.compile(e.left)
        ops = {
            "=": lambda a, b: a == b, "<>": lambda a, b: a != b,
            "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
        }
        if e.op not in ops:
            raise CompileError(f"quantified comparison with {e.op}")
        f = ops[e.op]
        if e.quant == "ALL":
            return F.forall(arr, lambda v: f(lv, v))
        return F.exists(arr, lambda v: f(lv, v))

    def _c_CountStar(self, e: A.CountStar) -> Column:
        if not self.allow_agg:
            raise CompileError("COUNT(*) outside aggregation context")
        return F.count(F.lit(1))

    def _c_FuncCall(self, e: A.FuncCall) -> Column:
        name = e.name.upper()
        if name in AGGREGATES:
            if not self.allow_agg:
                raise CompileError(f"aggregate {name} outside aggregation context")
            args = []
            for a in e.args:
                b = (
                    self.frame.bindings.get(a.name)
                    if isinstance(a, A.Var)
                    else None
                )
                if name == "COUNT" and b is not None and b.kind in ("node", "edge"):
                    # COUNT(entity) counts MATCHED entities: an OPTIONAL
                    # MATCH miss must not count (executor.rs count skips
                    # null rows). The entity-as-struct encoding is never
                    # null (struct of nulls != null), so count the id.
                    args.append(self.entity_id(a.name))
                else:
                    args.append(self.compile(a))
            return AGGREGATES[name](args, e.distinct)
        # graph introspection functions need binding info
        if name in ("ID", "LABELS", "INFERRED_LABELS", "TYPE", "KEYS", "PROPERTIES") and e.args and isinstance(e.args[0], A.Var):
            var = e.args[0].name
            b = self.frame.bindings.get(var)
            if b and b.kind in ("node", "edge"):
                if name == "ID":
                    return self.entity_id(var)
                if name in ("LABELS", "INFERRED_LABELS"):
                    # single-label storage model: inferred == declared
                    # (graph_functions.rs INFERRED_LABELS); label-free and
                    # alternation scans carry the label per row (_label)
                    if b.label is None and "_label" in b.props:
                        return F.array(F.col(_ncol(var, "_label")))
                    return F.array(F.lit(b.label))
                if name == "TYPE":
                    if b.label is None and "_label" in b.props:
                        return F.col(_ncol(var, "_label"))
                    return F.lit(b.label)
                if name == "KEYS":
                    return F.array(*[F.lit(p) for p in sorted(b.props)])
                if name == "PROPERTIES":
                    return self._c_Var(e.args[0])
        args = [self.compile(a) for a in e.args]
        if name == "TYPE" and args:
            # TYPE over a plain value returns the value-type name
            # (graph_functions.rs:208-224: STRING/NUMBER/BOOLEAN/LIST/
            # VECTOR/DATETIME/TIMEWINDOW; runtime NULL -> "NULL"). For
            # entity vars the branch above returned the label instead —
            # the useful Cypher-style semantics; the reference returns
            # the constant "NODE"/"EDGE" there (documented divergence).
            from pyspark.sql.types import (
                ArrayType, BooleanType, DateType, FloatType, NullType,
                NumericType, StringType, StructType, TimestampNTZType,
                TimestampType,
            )

            try:
                dt = self.frame.df.select(args[0].alias("_t")).schema[0].dataType
            except Exception:
                dt = None
            if isinstance(dt, NullType):
                return F.lit("NULL")
            if isinstance(dt, StringType):
                tn = "STRING"
            elif isinstance(dt, BooleanType):
                tn = "BOOLEAN"
            elif isinstance(dt, NumericType):
                tn = "NUMBER"
            elif isinstance(dt, (TimestampType, TimestampNTZType, DateType)):
                tn = "DATETIME"
            elif isinstance(dt, ArrayType):
                tn = "VECTOR" if isinstance(dt.elementType, FloatType) else "LIST"
            elif isinstance(dt, StructType):
                names = {f.name for f in dt.fields}
                tn = "TIMEWINDOW" if names == {"start", "end"} else "RECORD"
            else:
                tn = "UNKNOWN"
            return F.when(args[0].isNull(), F.lit("NULL")).otherwise(F.lit(tn))
        if name == "SIZE" and args:
            # GraphLite SIZE is polymorphic over lists and strings
            # (graph_functions.rs:253); resolve the argument type against
            # the frame schema to pick size() vs length()
            from pyspark.sql.types import ArrayType, MapType

            try:
                dt = self.frame.df.select(args[0].alias("_t")).schema[0].dataType
            except Exception:
                dt = None
            if isinstance(dt, (ArrayType, MapType)):
                return F.size(args[0]).cast("long")
            return F.length(args[0].cast("string")).cast("long")
        return compile_function(name, args, e.args)


def has_aggregate(e: A.Expr) -> bool:
    if isinstance(e, A.CountStar):
        return True
    if isinstance(e, A.FuncCall):
        if e.name.upper() in AGGREGATES:
            return True
        return any(has_aggregate(a) for a in e.args)
    if isinstance(e, A.Binary):
        return has_aggregate(e.left) or has_aggregate(e.right)
    if isinstance(e, A.Unary):
        return has_aggregate(e.operand)
    if isinstance(e, A.Case):
        return any(has_aggregate(c) or has_aggregate(r) for c, r in e.whens) or (
            e.else_ is not None and has_aggregate(e.else_)
        ) or (e.operand is not None and has_aggregate(e.operand))
    if isinstance(e, A.Cast):
        return has_aggregate(e.operand)
    if isinstance(e, A.Index):
        return has_aggregate(e.operand) or has_aggregate(e.index)
    if isinstance(e, A.IsPredicate):
        return has_aggregate(e.operand) or (
            e.target is not None and has_aggregate(e.target)
        )
    if isinstance(e, A.ListLiteral):
        return any(has_aggregate(i) for i in e.items)
    return False


def _expr_name(e: A.Expr) -> str:
    """Default output name for an unaliased item. Property access keeps
    the reference's dotted form — `RETURN p.name` yields a column named
    `p.name` (json_format_tests.rs pins result.variables[0] ==
    "p.name"); _c_Prop resolves later references to such columns."""
    if isinstance(e, A.Prop):
        return f"{e.var}.{e.key}"
    if isinstance(e, A.Var):
        return e.name
    if isinstance(e, A.CountStar):
        return "count"
    if isinstance(e, A.FuncCall):
        return e.name.lower()
    return "expr"


# ---------------------------------------------------------------------------
# Pattern / query compilation


class QueryCompiler:
    def __init__(self, graph: PropertyGraph, params: dict[str, Any] | None = None):
        self.graph = graph
        self.params = params or {}
        self._referenced: set[str] = {"*"}
        self._refprops: dict[str, set | None] | None = None

    def _is_referenced(self, var: Optional[str]) -> bool:
        if var is None:
            return False
        return "*" in self._referenced or var in self._referenced

    def _node_elidable(self, np: A.NodePattern, implied_label: Optional[str]) -> bool:
        """True when the node-table join adds nothing: no props to check,
        label already implied by the typed edge, var never read. The edge
        tables are constructed with referential integrity (datasets/*.py),
        so the join can only preserve cardinality — elide it."""
        if np.props:
            return False
        if self._is_referenced(np.var):
            return False
        if np.labels and (implied_label is None or np.labels != [implied_label]):
            return False
        return True

    def _endpoint(self, np: A.NodePattern, label: Optional[str], et,
                  side: str) -> Optional[str]:
        """How the row of edge ``et`` stands in for node ``np`` at its
        ``side`` endpoint, with no join to ``label``'s table: "id" when the
        node is never read (the endpoint id is its identity); "row" when
        the edge is drawn from the node's own table on its key, so the
        node's properties are in the row; "key" when the node is read only
        through ``_id`` and its key, which the edge's raw key column
        holds. None when the node table must be joined."""
        if self._node_elidable(np, label):
            return "id"
        ep = self.graph.endpoint_key(et, side)
        if ep is None or (np.labels and np.labels != [label]):
            return None
        nk, col = ep
        if nk.table is et.key.table and col == nk.column:
            return "row"
        if self._refprops is None or np.var is None:
            return None
        fp = self._refprops.get(np.var, set())
        if fp is not None and fp | set(np.props) <= {nk.column, ID}:
            return "key"
        return None

    def _from_edge_row(self, mode: Optional[str], var: str,
                       np: A.NodePattern, label: str, ep, end: Column):
        """What an endpoint of ``label`` read from its edge row
        (``_endpoint``'s ``mode``) adds to the edge's select: the columns,
        the props they bind ``var`` to, and the node table to read the
        edge rows from when the node's properties are in them."""
        if mode == "row":
            ndf = self.graph.nodes_for_label(label)
            props = self._projected(np.var, ndf.columns, np.props, ep[0].column)
            return [F.col(p).alias(_ncol(var, p)) for p in props], props, ndf
        cols = [end.alias(_ncol(var, ID))]
        if mode != "key":
            return cols, [ID], None
        nk, col = ep
        cols.append(F.col(col).cast(nk.dtype).alias(_ncol(var, nk.column)))
        return cols, [ID, nk.column], None

    def _projected(self, var: Optional[str], columns: list[str],
                   inline=(), key: Optional[str] = None) -> list[str]:
        """The columns of a table that enter the frame for ``var``: the
        identity columns (a declared ``key`` among them), the
        inline-constrained keys and the query's footprint of ``var`` (the
        ``_refprops`` that ``_endpoint`` trusts). Every column when the
        footprint is unknown: no footprint (``RETURN *``, path variables,
        DML), or ``var`` used as a whole entity. A property outside the
        footprint is never read, so its absence cannot turn a value into
        the missing-property NULL."""
        if self._refprops is None:
            return list(columns)
        fp = self._refprops.get(var, set()) if var is not None else set()
        if fp is None:
            return list(columns)
        keep = fp | set(inline) | {ID, SRC, DST, key}
        return [c for c in columns if c in keep]

    # ---- public -----------------------------------------------------------
    def compile_subgraph(self, q) -> dict[str, DataFrame]:
        """CREATE GRAPH .. AS <query>: run the pipeline and return
        {label: DataFrame['_id']} of every node entity bound to an
        *explicit* variable in the final frame (anonymous pattern nodes
        are filters, not captured content). The caller materializes the
        induced subgraph from these id sets.

        Parse-only in the reference (create_graph.rs ignores the AS body);
        implemented here with full pipeline semantics — WHERE/WITH/LIMIT
        shape the id sets like any query.
        """
        if isinstance(q, A.SetOp):
            raise CompileError("CREATE GRAPH AS does not support set operations")
        explicit: set[str] = set()
        for clause in q.clauses:
            if isinstance(clause, A.MatchClause):
                for pat in clause.patterns:
                    for el in pat.elements:
                        if isinstance(el, A.NodePattern) and el.var:
                            explicit.add(el.var)
        # no RETURN-based join elision: every bound node is graph content
        self._referenced = {"*"}
        self._refprops = None
        frame: Optional[Frame] = None
        for clause in q.clauses:
            if isinstance(clause, A.MatchClause):
                frame = self._compile_match(frame, clause)
            elif isinstance(clause, A.WithClause):
                frame = self._compile_with(frame, clause)
            elif isinstance(clause, A.UnwindClause):
                frame = self._compile_unwind(frame, clause)
            elif isinstance(clause, A.ReturnClause):
                break  # projection does not change the matched entities
            else:
                raise CompileError(
                    f"unsupported clause in CREATE GRAPH AS: {type(clause).__name__}"
                )
        if frame is None:
            raise CompileError("CREATE GRAPH AS needs at least one MATCH")
        out: dict[str, DataFrame] = {}
        for var, b in frame.bindings.items():
            if b.kind != "node" or not b.label or var not in explicit:
                continue
            idc = _ncol(var, "_id")
            if idc not in frame.df.columns:
                continue
            ids = frame.df.select(F.col(idc).alias("_id"))
            out[b.label] = out[b.label].unionByName(ids) if b.label in out else ids
        if not out:
            raise CompileError("CREATE GRAPH AS matched no named node variables")
        return {lbl: df.distinct() for lbl, df in out.items()}

    def compile(self, node) -> DataFrame:
        if isinstance(node, A.SetOp):
            return self._compile_setop(node)
        if isinstance(node, A.Query):
            return self._compile_query(node)
        raise CompileError(f"cannot compile {type(node).__name__}")

    # ---- set operations -----------------------------------------------------
    def _compile_setop(self, s: A.SetOp) -> DataFrame:
        l = self.compile(s.left)
        r = self.compile(s.right)
        if sorted(l.columns) != sorted(r.columns):
            raise CompileError(
                f"set operation column mismatch: {l.columns} vs {r.columns}"
            )
        r = r.select(*l.columns)
        if s.op == "UNION":
            out = l.unionByName(r)
            return out if s.all else out.dropDuplicates()
        if s.op == "INTERSECT":
            return l.intersectAll(r) if s.all else l.intersect(r)
        if s.op == "EXCEPT":
            return l.exceptAll(r) if s.all else l.subtract(r)
        raise CompileError(f"unknown set op {s.op}")

    # ---- pipeline -----------------------------------------------------------
    def _compile_query(self, q: A.Query) -> DataFrame:
        self._referenced = referenced_vars(q)
        self._refprops = referenced_props(q)
        frame: Optional[Frame] = None
        out: Optional[DataFrame] = None
        for clause in q.clauses:
            if isinstance(clause, A.MatchClause):
                frame = self._compile_match(frame, clause)
            elif isinstance(clause, A.WithClause):
                frame = self._compile_with(frame, clause)
            elif isinstance(clause, A.UnwindClause):
                frame = self._compile_unwind(frame, clause)
            elif isinstance(clause, A.ReturnClause):
                out = self._compile_return(frame, clause)
            else:
                raise CompileError(f"unsupported clause {type(clause).__name__}")
        if out is None:
            raise CompileError("query has no RETURN")
        return out

    # ---- MATCH ---------------------------------------------------------------
    @staticmethod
    def _pushable(conj: A.Expr, bound: set) -> bool:
        """A conjunct can be applied early iff every variable it touches is
        already bound and it needs no join machinery (EXISTS / VALUE{})."""
        used: dict = {}
        _expr_vars(conj, used)
        if not set(used) <= bound:
            return False

        found_sub = False

        def probe(e):
            nonlocal found_sub
            if isinstance(
                e,
                (A.ExistsSubquery, A.ScalarSubquery, A.InSubquery,
                 A.QuantifiedSubquery),
            ):
                found_sub = True
            return e

        transform_expr(conj, probe)
        return not found_sub

    def _compile_match(self, frame: Optional[Frame], m: A.MatchClause) -> Frame:
        outer = frame.bindings if frame is not None else None
        # GQL-level predicate pushdown: split WHERE into conjuncts and apply
        # each as soon as its variables are bound — critical before eager
        # expansions (unbounded BFS) and it hands Catalyst filters it can
        # push to the scans (the reference's logical_optimizer.rs:66-265
        # pushdown, done at pattern-compile time here)
        pending = _split_and(m.where) if m.where is not None else []
        if m.patterns:
            # non-optional clauses continue from the prior frame when the
            # anchor variable is already bound (no rescan + self-join)
            sub = frame if (frame is not None and not m.optional) else None
            started_from_frame = sub is not None
            for pat in m.patterns:
                # sibling patterns in one MATCH see each other's bindings:
                # a shared var re-anchors as a pruned single-label scan,
                # not an all-labels union
                ctx = dict(outer or {})
                if sub is not None:
                    ctx.update(sub.bindings)
                if sub is not None and not self._can_continue(sub, pat):
                    rev = self._reverse_pattern(pat)
                    if rev is not None and self._can_continue(sub, rev):
                        pat = rev
                cont = sub is not None and self._can_continue(sub, pat)
                if cont:
                    sub = self._continue_path(sub, pat, pending)
                else:
                    halves = (
                        self._split_at_bound(sub, pat) if sub is not None else None
                    )
                    if halves is not None:
                        # rescan elision: the shared var sits mid-pattern;
                        # expand both directions from it on the current
                        # frame instead of recompiling the pattern (which
                        # would rescan the shared node table and join back)
                        left_rev, right = halves
                        if right is not None:
                            sub = self._continue_path(sub, right, pending)
                        if left_rev is not None:
                            sub = self._continue_path(sub, left_rev, pending)
                    else:
                        pf = self._compile_path(pat, ctx or None, pending=pending)
                        sub = pf if sub is None else self._join_frames(sub, pf, "inner")
                sub, pending = self._apply_pushable(sub, pending)
            if started_from_frame:
                # frame was folded into sub — don't join it again below
                frame = None
            if m.optional:
                for conj in pending:
                    sub = self._apply_where(sub, conj)
                frame = (
                    self._join_frames(frame, sub, "left")
                    if frame is not None
                    else sub
                )
                return frame
            frame = self._join_frames(frame, sub, "inner") if frame is not None else sub
        if pending:
            if frame is None:
                raise CompileError("WHERE with no bound rows")
            for conj in pending:
                frame = self._apply_where(frame, conj)
        return frame

    def _can_continue(self, sub: Frame, pat: A.PathPattern) -> bool:
        """True when the pattern's anchor is an already-bound node var with
        no new constraints and no later element re-binds an existing var —
        then expansion continues on the current frame directly."""
        if pat.var is not None or not pat.elements:
            return False
        node0 = pat.elements[0]
        if not node0.var or node0.var not in sub.bindings or node0.props:
            return False
        b = sub.bindings[node0.var]
        if b.kind != "node":
            return False
        if node0.labels and node0.labels != [b.label]:
            return False
        for i in range(1, len(pat.elements)):
            v = getattr(pat.elements[i], "var", None)
            if v and v in sub.bindings:
                # re-bound NODE vars are fine: expansion enforces identity
                # with an id-equality filter instead of rebinding. Edge
                # (or value) bindings would still clobber — bail.
                if i % 2 == 1 or sub.bindings[v].kind != "node":
                    return False
        return True

    def _split_at_bound(
        self, sub: Frame, pat: A.PathPattern
    ) -> Optional[tuple[Optional[A.PathPattern], Optional[A.PathPattern]]]:
        """When exactly one pattern variable is already bound and it sits at
        an interior (or either end) node position, split the pattern there:
        the right half continues forward from the bound var, the left half
        continues as its reversal. Both halves expand on the current frame —
        no node-table rescan, no frame-to-frame join. Returns
        (reversed_left | None, right | None), or None when ineligible."""
        if pat.var is not None or len(pat.elements) < 3:
            return None
        bound_idx: Optional[int] = None
        seen: set[str] = set()
        for i, el in enumerate(pat.elements):
            v = getattr(el, "var", None)
            if not v:
                continue
            if v in seen:
                return None  # pattern-internal reuse: needs a real join
            seen.add(v)
            b = sub.bindings.get(v)
            if b is None:
                continue
            if i % 2 == 1 or b.kind != "node":
                return None  # bound edge var (or non-node) can't anchor
            if bound_idx is not None:
                return None  # two bound vars: join semantics required
            node = pat.elements[i]
            if node.props or (node.labels and node.labels != [b.label]):
                return None
            bound_idx = i
        if bound_idx is None or bound_idx == 0:
            return None  # unbound (fresh pattern) or plain continuation
        left = A.PathPattern(pat.elements[: bound_idx + 1], None)
        left_rev = self._reverse_pattern(left)
        if left_rev is None:
            return None
        right = (
            A.PathPattern(pat.elements[bound_idx:], None)
            if bound_idx < len(pat.elements) - 1
            else None
        )
        return left_rev, right

    @staticmethod
    def _reverse_pattern(pat: A.PathPattern) -> Optional[A.PathPattern]:
        """(a)-[:T]->(b) reversed to (b)<-[:T]-(a): lets a pattern whose
        TAIL is the bound variable continue in place too."""
        if pat.var is not None or len(pat.elements) < 3:
            return None
        flipped = {"out": "in", "in": "out", "both": "both"}
        elems = []
        for el in reversed(pat.elements):
            if isinstance(el, A.EdgePattern):
                elems.append(
                    A.EdgePattern(el.var, el.types, el.props,
                                  flipped[el.direction], el.quant, el.mode)
                )
            else:
                elems.append(el)
        return A.PathPattern(elems, None)

    def _continue_path(self, sub: Frame, pat: A.PathPattern, pending: list) -> Frame:
        frame = sub
        prev_var = pat.elements[0].var
        i = 1
        while i < len(pat.elements):
            edge: A.EdgePattern = pat.elements[i]
            node: A.NodePattern = pat.elements[i + 1]
            if edge.quant is not None:
                frame, prev_var = self._expand_varlen(frame, prev_var, edge, node)
            else:
                frame, prev_var = self._expand(frame, prev_var, edge, node)
            frame, pending[:] = self._apply_pushable(frame, pending)
            i += 2
        return frame

    def _apply_pushable(self, frame: Frame, pending: list) -> tuple[Frame, list]:
        bound = set(frame.bindings)
        remaining = []
        df = frame.df
        for conj in pending:
            if self._pushable(conj, bound):
                df = df.filter(ExprCompiler(Frame(df, frame.bindings), self.params).compile(conj))
            else:
                remaining.append(conj)
        return Frame(df, frame.bindings), remaining

    def _hoist_scalar_subqueries(self, frame: Frame, exprs):
        """Replace VALUE { q } nodes with references to a broadcast 1x1
        result cross-joined into the frame (ScalarSubquery, SURVEY §2.1
        row 20) — stays fully distributed, no driver collect."""
        df = frame.df
        bindings = dict(frame.bindings)
        changed = False

        def fn(e):
            nonlocal df, bindings, changed
            if isinstance(e, A.QuantifiedSubquery):
                # x <op> ALL/ANY ( query ): ordered ops need only the
                # subquery's min/max/count — one broadcast row, no
                # row-by-row membership test. Equality forms are
                # membership and rewrite to the semi/anti-join node.
                if e.quant in ("ANY", "SOME") and e.op == "=":
                    changed = True
                    return A.InSubquery(e.left, e.query, negated=False)
                if e.quant == "ALL" and e.op == "<>":
                    changed = True
                    return A.InSubquery(e.left, e.query, negated=True)
                sub = QueryCompiler(self.graph, self.params).compile(e.query)
                if len(sub.columns) != 1:
                    raise CompileError(
                        f"quantified subquery must return one column, got {sub.columns}"
                    )
                c = sub.columns[0]
                base = _anon() + "_q"
                mn, mx, ct = base + "_mn", base + "_mx", base + "_ct"
                agg = sub.agg(
                    F.min(c).alias(mn), F.max(c).alias(mx), F.count(c).alias(ct)
                )
                df = df.crossJoin(F.broadcast(agg))
                for nm in (mn, mx, ct):
                    bindings[nm] = Binding("value")
                changed = True
                B, V, L = A.Binary, A.Var, A.Literal
                if e.quant == "ALL":
                    if e.op in (">", ">="):
                        cmp = B(e.op, e.left, V(mx))
                    elif e.op in ("<", "<="):
                        cmp = B(e.op, e.left, V(mn))
                    elif e.op == "=":
                        cmp = B("AND", B("=", V(mn), V(mx)), B("=", e.left, V(mn)))
                    else:
                        raise CompileError(f"unsupported op {e.op} with ALL subquery")
                    return B("OR", B("=", V(ct), L(0)), cmp)
                if e.op in (">", ">="):
                    cmp = B(e.op, e.left, V(mn))
                elif e.op in ("<", "<="):
                    cmp = B(e.op, e.left, V(mx))
                elif e.op == "<>":
                    cmp = A.Unary(
                        "NOT",
                        B("AND", B("=", V(mn), V(mx)), B("=", e.left, V(mn))),
                    )
                else:
                    raise CompileError(f"unsupported op {e.op} with ANY subquery")
                return B("AND", B(">", V(ct), L(0)), cmp)
            if isinstance(e, A.ScalarSubquery):
                name = _anon() + "_sc"
                sub = QueryCompiler(self.graph, self.params).compile(e.query)
                if len(sub.columns) != 1:
                    raise CompileError(
                        f"scalar subquery must return one column, got {sub.columns}"
                    )
                sdf = F.broadcast(
                    sub.select(F.col(sub.columns[0]).alias(name)).limit(1)
                )
                df = df.crossJoin(sdf)
                bindings[name] = Binding("value")
                changed = True
                return A.Var(name)
            return e

        out = [transform_expr(e, fn) for e in exprs]
        if not changed:
            return frame, exprs
        return Frame(df, bindings), out

    def _apply_where(self, frame: Frame, where: A.Expr) -> Frame:
        frame, (where,) = self._hoist_scalar_subqueries(frame, [where])
        """Split top-level conjuncts; EXISTS {...} → semi/anti join
        (the reference unnests the same way, logical_optimizer.rs:285-599)."""
        conjuncts = _split_and(where)
        plain: list[A.Expr] = []
        df = frame.df
        for c in conjuncts:
            neg = False
            inner = c
            while isinstance(inner, A.Unary) and inner.op == "NOT":
                neg = not neg
                inner = inner.operand
            if isinstance(inner, A.InSubquery):
                # x [NOT] IN ( query ): distributed semi/anti join on the
                # subquery's single column (reference executes the subquery
                # then membership-tests, executor.rs:1100-1178 — the join
                # form is the scale-out equivalent; NOT IN is anti-join,
                # i.e. null-safe membership, not SQL tri-valued NOT IN)
                negated = neg != inner.negated
                sub = QueryCompiler(self.graph, self.params).compile(inner.query)
                if len(sub.columns) != 1:
                    raise CompileError(
                        f"IN subquery must return one column, got {sub.columns}"
                    )
                key = _anon() + "_in"
                sdf = sub.select(F.col(sub.columns[0]).alias(key))
                val = ExprCompiler(
                    Frame(df, frame.bindings), self.params
                ).compile(inner.expr)
                df = df.join(
                    sdf, val == F.col(key), "left_anti" if negated else "left_semi"
                )
                continue
            if isinstance(inner, A.ExistsSubquery):
                negated = neg != inner.negated
                sub = None
                for pat in inner.patterns:
                    pf = self._compile_path(pat, frame.bindings)
                    sub = pf if sub is None else self._join_frames(sub, pf, "inner")
                correlated: list[A.Expr] = []
                if inner.where is not None:
                    # sub-local conjuncts filter the subquery before the
                    # semi-join; conjuncts referencing outer vars become
                    # join conditions (decorrelation, the same unnesting
                    # the reference does in logical_optimizer.rs:285-599)
                    for cj in _split_and(inner.where):
                        used: dict = {}
                        _expr_vars(cj, used)
                        if set(used) <= set(sub.bindings):
                            sub = Frame(
                                sub.df.filter(
                                    ExprCompiler(sub, self.params).compile(cj)
                                ),
                                sub.bindings,
                            )
                        else:
                            correlated.append(cj)
                fr = Frame(df, frame.bindings)
                fr = self._join_frames(
                    fr, sub, "left_anti" if negated else "left_semi",
                    correlated=correlated or None,
                )
                df = fr.df
            else:
                plain.append(c)
        frame = Frame(df, frame.bindings)
        for p in plain:
            frame = Frame(
                frame.df.filter(ExprCompiler(frame, self.params).compile(p)),
                frame.bindings,
            )
        return frame

    # ---- path pattern → joins -------------------------------------------------
    def _compile_path(self, pat: A.PathPattern, outer: Optional[dict] = None,
                      pending: Optional[list] = None) -> Frame:
        elems = pat.elements
        node0: A.NodePattern = elems[0]
        if pat.var is not None:
            return self._compile_path_with_var(pat, outer)
        if pending is None:
            pending = []
        # anchor elision: when the first node needs nothing its edge row
        # does not give (an unreferenced placeholder, a node read through
        # the edge's raw key, or one whose table the edge is drawn from),
        # start the plan at the edge table (one scan instead of scan+join)
        if (
            len(elems) > 1
            and elems[1].quant is None
            and not (outer and node0.var in (outer or {}))
            and self._anchor_on_edge(node0, elems[1])
        ):
            frame, prev_var = self._expand(
                None, node0.var or _anon(), elems[1], elems[2], prev_node=node0
            )
            i = 3
        else:
            if not node0.labels and not (outer and node0.var in (outer or {})) \
                    and len(elems) > 1:
                implied = self._anchor_implied(elems[1], node0)
                if implied is not None:
                    node0 = A.NodePattern(node0.var, [implied], node0.props)
            frame = self._scan_node(node0, outer)
            prev_var = node0.var or self._last_anon
            i = 1
        frame, pending[:] = self._apply_pushable(frame, pending)
        while i < len(elems):
            edge: A.EdgePattern = elems[i]
            node: A.NodePattern = elems[i + 1]
            if edge.quant is not None:
                frame, prev_var = self._expand_varlen(frame, prev_var, edge, node)
            else:
                frame, prev_var = self._expand(frame, prev_var, edge, node)
            frame, pending[:] = self._apply_pushable(frame, pending)
            i += 2
        return frame

    def _anchor_on_edge(self, np: A.NodePattern, edge: A.EdgePattern) -> bool:
        implied = self._anchor_implied(edge, np)
        if self._node_elidable(np, implied):
            return True
        if implied is None:
            return False
        side = SRC if edge.direction == "out" else DST
        return self._endpoint(
            np, implied, self.graph.edge_type(edge.types[0]), side
        ) is not None

    def _compile_path_with_var(
        self, pat: A.PathPattern, outer: Optional[dict] = None
    ) -> Frame:
        """p = (a)-[:T]->(b): bind ``p`` to the ordered array of node ids
        along the path (GraphLite PathValue is a (node_id, edge_id?) list,
        value.rs:91-144; edge ids are synthetic here so we carry nodes).
        Elision is disabled — a path value references every node."""
        saved = self._referenced
        saved_props = self._refprops
        self._referenced = {"*"}
        self._refprops = None
        try:
            elems = pat.elements
            node0: A.NodePattern = elems[0]
            frame = self._scan_node(node0, outer)
            prev_var = node0.var or self._last_anon
            pcol = f"__path_{pat.var}"
            df = frame.df.withColumn(pcol, F.array(F.col(_ncol(prev_var, ID))))
            frame = Frame(df, frame.bindings)
            i = 1
            while i < len(elems):
                edge: A.EdgePattern = elems[i]
                node: A.NodePattern = elems[i + 1]
                if edge.quant is not None:
                    frame, prev_var = self._expand_varlen(
                        frame, prev_var, edge, node, path_col=pcol
                    )
                else:
                    frame, prev_var = self._expand(frame, prev_var, edge, node)
                    frame = Frame(
                        frame.df.withColumn(
                            pcol,
                            F.concat(F.col(pcol), F.array(F.col(_ncol(prev_var, ID)))),
                        ),
                        frame.bindings,
                    )
                i += 2
            out_df = frame.df.withColumn(pat.var, F.col(pcol)).drop(pcol)
            bindings = dict(frame.bindings)
            bindings[pat.var] = Binding("value")
            return Frame(out_df, bindings)
        finally:
            self._referenced = saved
            self._refprops = saved_props

    def _scan_node(self, np: A.NodePattern, outer: Optional[dict] = None) -> Frame:
        var = np.var or _anon()
        self._last_anon = var
        labels = list(np.labels)
        if not labels and outer and np.var in outer and outer[np.var].label:
            # var is bound outside this pattern: reuse its label so the
            # rescan stays a single pruned table scan (joined on _id later)
            labels = [outer[np.var].label]
        if len(labels) == 1:
            ndf = self.graph.nodes_for_label(labels[0])
            nk = self.graph.node_key(labels[0])
            props = self._projected(np.var, ndf.columns, np.props,
                                    nk and nk.column)
            df = _enter(ndf, var, props)
            b = Binding("node", labels[0], props)
        elif labels:
            # multi-label alternation: union on common columns; each
            # part carries its source label so LABELS()/IS :Label
            # resolve per row after the union
            dfs = [(lbl, self.graph.nodes_for_label(lbl)) for lbl in labels]
            common = set(dfs[0][1].columns)
            for _, d in dfs[1:]:
                common &= set(d.columns)
            props = self._projected(np.var, [*sorted(common), "_label"], np.props)
            cols = [p for p in props if p != "_label"]
            df = None
            for lbl, d in dfs:
                tag = [F.lit(lbl).alias(_ncol(var, "_label"))] if "_label" in props else []
                sel = _enter(d, var, cols, *tag)
                df = sel if df is None else df.unionByName(sel)
            b = Binding("node", None, props)
        else:
            adf = self.graph.all_nodes()
            props = self._projected(np.var, adf.columns, np.props)
            df = _enter(adf, var, props)
            b = Binding("node", None, props)
        frame = Frame(df, {var: b})
        return self._inline_props(frame, var, np.props)

    def _inline_props(self, frame: Frame, var: str, props: dict[str, A.Expr]) -> Frame:
        for k, v in props.items():
            c = ExprCompiler(frame, self.params).compile(v)
            frame = Frame(frame.df.filter(F.col(_ncol(var, k)) == c), frame.bindings)
        return frame

    def _edge_candidates(self, edge: A.EdgePattern, src_label, dst_label):
        if edge.types:
            return [self.graph.edge_type(t) for t in edge.types]
        ets = self.graph.edge_types_between(src_label, dst_label)
        if not ets:
            raise CompileError(
                f"no edge type connects {src_label} -> {dst_label}"
            )
        return ets

    def _anchor_implied(self, edge: A.EdgePattern, node0: A.NodePattern) -> Optional[str]:
        """Anchor label implied by a single typed edge, for elidability."""
        if len(edge.types) == 1 and edge.types[0] in self.graph.edges:
            et = self.graph.edge_type(edge.types[0])
            if edge.direction == "out":
                return et.src_label
            if edge.direction == "in":
                return et.dst_label
        return None

    def _expand(
        self,
        frame: Optional[Frame],
        prev_var: str,
        edge: A.EdgePattern,
        node: A.NodePattern,
        prev_node: Optional[A.NodePattern] = None,
    ) -> tuple[Frame, str]:
        """One-hop Expand (SURVEY §2.1 row 3) = join prev rows with the edge
        table on the direction key, then join the target node table.

        frame=None means the anchor node was elided: the edge table itself
        is the row source (its src/dst provide the anchor's identity).
        Target-node joins are likewise elided when the edge row gives all
        the node needs (``_endpoint``) — the graph invariant (edges
        reference existing unique node ids) makes those joins
        cardinality-neutral. Where the graph declares keys, joins and the
        keys read from the edge use its raw key columns, and a node whose
        table the edge is drawn from is read from the edge row.
        """
        evar = edge.var or _anon()
        nvar = node.var or _anon()
        self._last_anon = nvar
        if frame is not None:
            prev_b = frame.bindings[prev_var]
        else:
            prev_b = Binding(
                "node",
                prev_node.labels[0]
                if prev_node.labels
                else self._anchor_implied(edge, prev_node),
                [],
            )

        directions = [edge.direction] if edge.direction in ("out", "in") else ["out", "in"]
        rebound = node.var is not None and (
            (frame is not None and node.var in frame.bindings
             and frame.bindings[node.var].kind == "node")
            or (frame is None and node.var == prev_var)
        )
        parts: list[DataFrame] = []
        used_et: list = []
        eprops_parts: list[list[str]] = []
        aprops_parts: list[list[str]] = []
        nprops_all: Optional[list[str]] = None
        tgt_labels: list[str] = []
        # an alternation target narrows no candidate: the tgt_label check
        # below keeps the edge types reaching any of its labels
        tgt_hint = node.labels[0] if len(node.labels) == 1 else None
        for dirn in directions:
            src_lbl = prev_b.label if dirn == "out" else tgt_hint
            dst_lbl = tgt_hint if dirn == "out" else prev_b.label
            try:
                ets = self._edge_candidates(edge, src_lbl, dst_lbl)
            except CompileError:
                continue
            for et in ets:
                # direction compatibility with typed endpoints
                if dirn == "out" and prev_b.label and et.src_label != prev_b.label:
                    continue
                if dirn == "in" and prev_b.label and et.dst_label != prev_b.label:
                    continue
                tgt_label = et.dst_label if dirn == "out" else et.src_label
                if node.labels and tgt_label not in node.labels:
                    continue
                near, far = (SRC, DST) if dirn == "out" else (DST, SRC)
                near_lbl = et.src_label if dirn == "out" else et.dst_label
                # the rows the edge is read from, and its endpoint ids:
                # encoded from the raw keys while its declaration stands
                ek = et.key
                if ek is None:
                    table, ends = et.df, {SRC: F.col(SRC), DST: F.col(DST)}
                else:
                    table = ek.table
                    ends = {SRC: ek.source.encode(F.col(ek.src)),
                            DST: ek.destination.encode(F.col(ek.dst))}
                near_key = self.graph.endpoint_key(et, near)
                far_key = self.graph.endpoint_key(et, far)
                eprops = self._projected(edge.var, et.properties, edge.props)
                # the edge table's one select also computes the elided
                # anchor's and target's ids, keys and same-row properties
                derived: list[Column] = []
                raws: list[str] = []  # raw key columns joined on
                amode = tmode = None
                aprops: list[str] = []
                if frame is None:
                    amode = self._endpoint(prev_node, near_lbl, et, near)
                    cols, aprops, rows = self._from_edge_row(
                        amode, prev_var, prev_node, near_lbl, near_key,
                        ends[near])
                    derived += cols
                    table = rows if rows is not None else table
                if not rebound:
                    tmode = self._endpoint(node, tgt_label, et, far)
                    if tmode == "row" and amode == "row" \
                            and self.graph.nodes_for_label(tgt_label) \
                            is not table:
                        tmode = None  # one row, two node tables: join one
                    if tmode is not None:
                        cols, nprops, rows = self._from_edge_row(
                            tmode, nvar, node, tgt_label, far_key, ends[far])
                        derived += cols
                        table = rows if rows is not None else table
                    elif far_key is not None:
                        raws.append(far_key[1])
                if frame is None:
                    on = None
                elif near_key is not None and prev_b.label == near_lbl \
                        and near_key[0].column in prev_b.props:
                    raws.append(near_key[1])
                    on = (F.col(_ncol(prev_var, near_key[0].column))
                          == F.col(_ncol(evar, near_key[1])))
                else:
                    on = F.col(_ncol(prev_var, ID)) == F.col(_ncol(evar, near))
                edf = table.select(
                    *[ends[s].alias(_ncol(evar, s)) for s in (SRC, DST)],
                    *[F.col(p).alias(_ncol(evar, p)) for p in eprops],
                    *derived,
                    *[F.col(c).alias(_ncol(evar, c))
                      for c in dict.fromkeys(raws) if c not in eprops],
                )
                other_key = _ncol(evar, far)
                joined = edf if on is None else frame.df.join(edf, on, "inner")
                if rebound:
                    # target var already bound (cycle / self-loop /
                    # within-pattern reuse): enforce identity with an
                    # id-equality filter — rebinding would silently drop
                    # the constraint
                    exist_b = (
                        frame.bindings[node.var] if frame is not None else prev_b
                    )
                    joined = joined.filter(
                        F.col(_ncol(nvar, ID)) == F.col(other_key)
                    )
                    missing = [
                        k for k in node.props
                        if _ncol(nvar, k) not in joined.columns
                    ]
                    if missing:
                        lbl = exist_b.label or tgt_label
                        if lbl is None:
                            raise CompileError(
                                f"property constraint on re-bound variable "
                                f"{nvar!r} needs a label"
                            )
                        re_id = f"__rebind_{nvar}_id"
                        ndf = _enter(self.graph.nodes_for_label(lbl), nvar, missing,
                                     F.col(ID).alias(re_id))
                        joined = joined.join(
                            ndf, F.col(other_key) == F.col(re_id), "inner"
                        ).drop(re_id)
                    nprops = sorted(set(exist_b.props) | set(missing))
                elif tmode is None:
                    ndf = self.graph.nodes_for_label(tgt_label)
                    if far_key is not None:
                        key = far_key[0].column
                        cond = (F.col(_ncol(evar, far_key[1]))
                                == F.col(_ncol(nvar, key)))
                    else:
                        key, cond = None, F.col(other_key) == F.col(_ncol(nvar, ID))
                    nprops = self._projected(node.var, ndf.columns, node.props, key)
                    joined = joined.join(_enter(ndf, nvar, nprops), cond, "inner")
                parts.append(joined)
                used_et.append(et)
                tgt_labels.append(tgt_label)
                eprops_parts.append(eprops)
                aprops_parts.append(aprops)
                nprops_all = nprops if nprops_all is None else sorted(
                    set(nprops_all) & set(nprops)
                )
        if not parts:
            raise CompileError(
                f"pattern edge {edge.types or '(any)'} does not connect "
                f"{prev_b.label} to {node.labels or '(any)'}"
            )
        eb_label = used_et[0].name if len({et.name for et in used_et}) == 1 else None
        nb_label = tgt_labels[0] if len(set(tgt_labels)) == 1 else None
        if len(parts) == 1:
            df = parts[0]
            eprops = eprops_parts[0]
            aprops = aprops_parts[0]
        else:
            # align columns across unioned alternatives; where they differ
            # in edge type or target label, each carries its own (_label)
            common_cols = set(parts[0].columns)
            for p in parts[1:]:
                common_cols &= set(p.columns)
            cols = [c for c in parts[0].columns if c in common_cols]
            tags = [(evar, [et.name for et in used_et])] if eb_label is None else []
            if nb_label is None and not rebound:
                tags.append((nvar, tgt_labels))
                nprops_all = sorted({*(nprops_all or []), "_label"})
            df = None
            for i, p in enumerate(parts):
                p = p.select(*cols, *[F.lit(lbls[i]).alias(_ncol(v, "_label"))
                                      for v, lbls in tags])
                df = p if df is None else df.unionByName(p)
            eprops = sorted(set.intersection(*map(set, eprops_parts)))
            if eb_label is None:
                eprops.append("_label")
            # elided anchor: only the columns every alternative reads
            # from its edge row survive the union
            aprops = sorted(set.intersection(*map(set, aprops_parts)))

        if frame is None:
            bindings = {
                prev_var: Binding(prev_b.kind, prev_b.label, aprops)
            }
        else:
            bindings = dict(frame.bindings)
        bindings[evar] = Binding("edge", eb_label, [SRC, DST, *eprops])
        pre_b = None
        if frame is not None and nvar in frame.bindings and frame.bindings[nvar].kind == "node":
            pre_b = frame.bindings[nvar]
        elif frame is None and nvar == prev_var:
            pre_b = bindings[prev_var]
        if pre_b is not None:
            # pre-bound target kept its binding; only widen the props with
            # any re-bind columns fetched above
            bindings[nvar] = Binding(
                pre_b.kind, pre_b.label, sorted(set(pre_b.props) | set(nprops_all or []))
            )
        else:
            bindings[nvar] = Binding("node", nb_label, nprops_all or [])
        out = Frame(df, bindings)
        if frame is None:
            out = self._inline_props(out, prev_var, prev_node.props)
        out = self._inline_props(out, evar, edge.props)
        out = self._inline_props(out, nvar, node.props)
        return out, nvar

    # ---- variable-length paths (SURVEY §2.1 row 4) ---------------------------
    def _expand_varlen(
        self, frame: Frame, prev_var: str, edge: A.EdgePattern,
        node: A.NodePattern, path_col: Optional[str] = None,
    ) -> tuple[Frame, str]:
        """Bounded quantifier {lo,hi}: unrolled iterative joins, one union
        branch per depth (reference does BFS frontier expansion,
        executor.rs:6338-6664). Dedup per path mode on the visited-id array."""
        lo, hi = edge.quant
        unbounded = hi is None
        if not edge.types or len(edge.types) != 1:
            raise CompileError("variable-length edge requires a single edge type")
        if edge.var is not None:
            raise CompileError(
                "variable-length edges cannot bind an edge variable "
                "(per-step property access is undefined over a path)"
            )
        if unbounded:
            # (a)-[:T]*->(b): iterative BFS with empty-frontier termination
            # (reachability semantics — each (row, target) pair once at its
            # minimum depth; GraphIndexScan analogue, physical.rs:42-67)
            if path_col is not None:
                raise CompileError("path variables need a bounded quantifier")
            return self._expand_unbounded(frame, prev_var, edge, node, lo)
        if hi > MAX_PATH_HOPS:
            raise CompileError(f"path quantifier above cap {MAX_PATH_HOPS}")
        et = self.graph.edge_type(edge.types[0])
        if edge.direction == "both":
            raise CompileError("variable-length undirected edges unsupported")
        nvar = node.var or _anon()
        self._last_anon = nvar

        fwd = edge.direction == "out"
        key_in, key_out = (SRC, DST) if fwd else (DST, SRC)
        base_edf = et.df
        for k, v in edge.props.items():
            # inline edge props constrain EVERY traversed step
            tmp = Frame(base_edf, {"_e": Binding("edge", et.name, et.properties)})
            val = ExprCompiler(tmp, self.params).compile(v)
            base_edf = base_edf.filter(F.col(k) == val)
        edf = base_edf.select(F.col(key_in).alias("__in"), F.col(key_out).alias("__out"))
        tgt_label = (et.dst_label if fwd else et.src_label)
        if node.labels:
            tgt_label = node.labels[0]
        ndf = self.graph.nodes_for_label(tgt_label)
        nprops = self._projected(node.var, ndf.columns, node.props)

        base = frame.df.withColumn("__frontier", F.col(_ncol(prev_var, ID))).withColumn(
            "__visited", F.array(F.col(_ncol(prev_var, ID)))
        )
        if edge.mode == "TRAIL":
            # TRAIL bans repeated EDGES (vertices may repeat). Edge identity
            # within the single traversed type is the (src, dst) pair
            # (reference PathMode::Trail, executor.rs edge-dedup on edge ids).
            base = base.withColumn(
                "__visited_e", F.array().cast("array<string>")
            )
        if path_col is not None:
            # ordered traversal (with revisits) for the bound path variable;
            # __visited stays a set for mode enforcement
            base = base
        mode = edge.mode
        depth_frames: list[DataFrame] = []
        cur = base
        for depth in range(1, hi + 1):
            step = cur.join(edf, F.col("__frontier") == F.col("__in"), "inner")
            if mode == "TRAIL":
                ekey = F.concat_ws(
                    "\x01",  # unambiguous id separator
                    F.col("__frontier").cast("string"),
                    F.col("__out").cast("string"),
                )
                step = step.filter(
                    ~F.array_contains(F.col("__visited_e"), ekey)
                ).withColumn(
                    "__visited_e",
                    F.array_union(F.col("__visited_e"), F.array(ekey)),
                )
            elif mode in ("SIMPLE", "ACYCLIC"):
                # no repeated vertices
                step = step.filter(~F.array_contains(F.col("__visited"), F.col("__out")))
            step = step.withColumn("__frontier", F.col("__out")).withColumn(
                "__visited",
                F.array_union(F.col("__visited"), F.array(F.col("__out"))),
            )
            if path_col is not None:
                step = step.withColumn(
                    path_col, F.concat(F.col(path_col), F.array(F.col("__out")))
                )
            step = step.drop("__in", "__out")
            cur = step
            if depth >= lo:
                depth_frames.append(step)
        if lo == 0:
            # zero-length path: target == source
            zero = base
            depth_frames.insert(0, zero)

        out = depth_frames[0]
        for d in depth_frames[1:]:
            out = out.unionByName(d)
        if node.var is not None and node.var in frame.bindings and \
                frame.bindings[node.var].kind == "node":
            # target var already bound (cycle): enforce identity instead
            # of rebinding — see the same rule in _expand
            joined = out.filter(F.col("__frontier") == F.col(_ncol(nvar, ID)))
            joined = joined.drop("__frontier", "__visited", "__visited_e")
            fr = Frame(joined, dict(frame.bindings))
            fr = self._inline_props(fr, nvar, node.props)
            return fr, nvar
        joined = out.join(
            _enter(ndf, nvar, nprops), F.col("__frontier") == F.col(_ncol(nvar, ID)), "inner"
        )
        joined = joined.drop("__frontier", "__visited", "__visited_e")
        bindings = dict(frame.bindings)
        bindings[nvar] = Binding("node", tgt_label, nprops)
        fr = Frame(joined, bindings)
        fr = self._inline_props(fr, nvar, node.props)
        return fr, nvar

    def _expand_unbounded(
        self, frame: Frame, prev_var: str, edge: A.EdgePattern,
        node: A.NodePattern, lo: int,
    ) -> tuple[Frame, str]:
        """Unbounded traversal: BFS over the edge table from the distinct
        anchor ids, joined back to the input rows. One (root, node) pair
        per minimum-depth reachable target; terminates when the frontier
        empties (cycle-safe — visited set, not per-path arrays)."""
        from ..operators.paths import bfs_distances

        et = self.graph.edge_type(edge.types[0])
        fwd = edge.direction == "out"
        if edge.direction == "both":
            raise CompileError("unbounded undirected traversal unsupported")
        edf = et.df if fwd else et.df.select(
            F.col(DST).alias(SRC), F.col(SRC).alias(DST)
        )
        nvar = node.var or _anon()
        self._last_anon = nvar
        tgt_label = (et.dst_label if fwd else et.src_label)
        if node.labels:
            tgt_label = node.labels[0]

        roots = frame.df.select(
            F.col(_ncol(prev_var, ID)).alias("__root")
        ).distinct()
        reach = bfs_distances(edf, roots, max_hops=1000)
        reach = reach.filter(F.col("dist") >= lo).select(
            F.col("root").alias("__root"), F.col("node").alias("__tgt")
        )
        joined = frame.df.join(
            reach, F.col(_ncol(prev_var, ID)) == F.col("__root"), "inner"
        ).drop("__root")
        if node.var is not None and node.var in frame.bindings and \
                frame.bindings[node.var].kind == "node":
            # target var already bound (cycle): identity filter, no rebind
            joined = joined.filter(
                F.col("__tgt") == F.col(_ncol(nvar, ID))
            ).drop("__tgt")
            fr = Frame(joined, dict(frame.bindings))
            fr = self._inline_props(fr, nvar, node.props)
            return fr, nvar
        ndf = self.graph.nodes_for_label(tgt_label)
        nprops = self._projected(node.var, ndf.columns, node.props)
        joined = joined.join(
            _enter(ndf, nvar, nprops), F.col("__tgt") == F.col(_ncol(nvar, ID)), "inner"
        ).drop("__tgt")
        bindings = dict(frame.bindings)
        bindings[nvar] = Binding("node", tgt_label, nprops)
        fr = Frame(joined, bindings)
        fr = self._inline_props(fr, nvar, node.props)
        return fr, nvar

    # ---- joins between frames --------------------------------------------------
    def _join_frames(self, left: Frame, right: Frame, how: str,
                     correlated: Optional[list] = None) -> Frame:
        shared = [v for v in right.bindings if v in left.bindings]
        if not shared and not correlated:
            if how in ("left_semi", "left_anti"):
                raise CompileError("EXISTS subquery shares no variables with outer query")
            df = left.df.crossJoin(right.df)
            return Frame(df, {**left.bindings, **right.bindings})
        # rename right columns to avoid collisions, join on shared entity ids
        rdf = right.df
        ren = {}
        for c in rdf.columns:
            ren[c] = f"__r_{c}"
        rdf = rdf.select(*[F.col(c).alias(ren[c]) for c in rdf.columns])
        cond = None
        for v in shared:
            b = left.bindings[v]
            key = _ncol(v, ID) if b.kind in ("node", "edge") else v
            c = F.col(key) == F.col(ren[key])
            cond = c if cond is None else (cond & c)
        if correlated:
            # predicates spanning both sides become join conditions: the
            # right-only variables are rewritten onto their renamed columns
            # (__r_ prefixes compose: __r_<var>__<prop> == _ncol(__r_var, p))
            mapping = {v: f"__r_{v}" for v in right.bindings if v not in left.bindings}
            mbind = dict(left.bindings)
            for v, b in right.bindings.items():
                if v not in left.bindings:
                    mbind[f"__r_{v}"] = b
            mframe = Frame(left.df, mbind)
            for cexpr in correlated:
                col = ExprCompiler(mframe, self.params).compile(
                    _rewrite_vars(cexpr, mapping)
                )
                cond = col if cond is None else (cond & col)
        df = left.df.join(rdf, cond, how)
        if how in ("left_semi", "left_anti"):
            return Frame(df, dict(left.bindings))
        bindings = dict(left.bindings)
        keep = []
        for v, b in right.bindings.items():
            if v in left.bindings:
                continue
            bindings[v] = b
            cols = (
                [_ncol(v, p) for p in ([ID] if b.kind in ("node", "edge") else [])]
                if False
                else None
            )
        # restore names for non-shared right columns
        # (an entity's whole namespace: a raw key column an expansion
        # joined on sits there too, outside its binding's props)
        shared_cols = set()
        prefixes = []
        for v in shared:
            if left.bindings[v].kind in ("node", "edge"):
                prefixes.append(_ncol(v, ""))
            else:
                shared_cols.add(v)
        out_cols = [F.col(c) for c in left.df.columns]
        for c in right.df.columns:
            if c not in shared_cols and not c.startswith(tuple(prefixes)):
                out_cols.append(F.col(ren[c]).alias(c))
        df = df.select(*out_cols)
        return Frame(df, bindings)

    # ---- WITH / UNWIND / RETURN ---------------------------------------------
    def _compile_with(self, frame: Optional[Frame], w: A.WithClause) -> Frame:
        if frame is None:
            frame = Frame(self.graph.spark.range(1).select(F.lit(1).alias("__one")), {})
        items = list(w.items)
        carry_all = getattr(w, "carry_all", False) or any(
            isinstance(i.expr, A.Var) and i.expr.name == "*" for i in items
        )
        items = [i for i in items if not (isinstance(i.expr, A.Var) and i.expr.name == "*")]

        agg = any(has_aggregate(i.expr) for i in items)
        new_bindings: dict[str, Binding] = {}
        sel: list[Column] = []
        keys: list[Column] = []
        aggs: list[Column] = []

        def passthrough_entity(var: str, b: Binding, out_var: str):
            cols = []
            for p in b.props:
                cols.append(F.col(_ncol(var, p)).alias(_ncol(out_var, p)))
            new_bindings[out_var] = Binding(b.kind, b.label, list(b.props))
            return cols

        if carry_all:
            for var, b in frame.bindings.items():
                if b.kind in ("node", "edge"):
                    sel.extend(passthrough_entity(var, b, var))
                else:
                    # dotted value names need backtick quoting
                    sel.append(F.col(f"`{var}`" if "." in var else var))
                    new_bindings[var] = b

        ec = ExprCompiler(frame, self.params, allow_agg=agg)
        for it in items:
            if isinstance(it.expr, A.Var) and it.expr.name in frame.bindings and frame.bindings[it.expr.name].kind in ("node", "edge"):
                out_var = it.alias or it.expr.name
                if agg:
                    # WITH n, count(*) — entity is a grouping key: group on
                    # all its columns (id functionally determines the rest)
                    b = frame.bindings[it.expr.name]
                    for p in b.props:
                        keys.append(
                            F.col(_ncol(it.expr.name, p)).alias(_ncol(out_var, p))
                        )
                    new_bindings[out_var] = Binding(b.kind, b.label, list(b.props))
                    continue
                sel.extend(passthrough_entity(it.expr.name, frame.bindings[it.expr.name], out_var))
                continue
            name = it.alias or _expr_name(it.expr)
            col = ec.compile(it.expr).alias(name)
            new_bindings[name] = Binding("value")
            if agg and not has_aggregate(it.expr):
                keys.append(col)
            elif agg:
                aggs.append(col)
            else:
                sel.append(col)

        if agg:
            df = frame.df.groupBy(*keys).agg(*aggs) if keys or aggs else frame.df
        else:
            df = frame.df.select(*sel)
        out = Frame(df, new_bindings)
        if w.where is not None:
            out = self._apply_where(out, w.where)
        if w.distinct:
            out = Frame(out.df.dropDuplicates(), out.bindings)
        if w.order_by:
            out = Frame(self._order(out, w.order_by, {}), out.bindings)
        if w.skip is not None:
            out = Frame(out.df.offset(w.skip), out.bindings)
        if w.limit is not None:
            out = Frame(out.df.limit(w.limit), out.bindings)
        return out

    def _compile_unwind(self, frame: Optional[Frame], u: A.UnwindClause) -> Frame:
        if frame is None:
            frame = Frame(self.graph.spark.range(1).select(F.lit(1).alias("__one")), {})
            col = ExprCompiler(frame, self.params).compile(u.expr)
            df = frame.df.select(F.explode(col).alias(u.alias))
            return Frame(df, {u.alias: Binding("value")})
        col = ExprCompiler(frame, self.params).compile(u.expr)
        df = frame.df.withColumn(u.alias, F.explode(col))
        bindings = dict(frame.bindings)
        bindings[u.alias] = Binding("value")
        return Frame(df, bindings)

    def _compile_return(self, frame: Optional[Frame], r: A.ReturnClause) -> DataFrame:
        if frame is None:
            frame = Frame(self.graph.spark.range(1).select(F.lit(1).alias("__one")), {})
        where = getattr(r, "select_where", None)
        if where is not None:
            frame = self._apply_where(frame, where)
        frame, new_exprs = self._hoist_scalar_subqueries(
            frame, [i.expr for i in r.items]
        )
        r = A.ReturnClause(
            [A.ReturnItem(e, i.alias) for e, i in zip(new_exprs, r.items)],
            r.distinct, r.order_by, r.skip, r.limit, r.group_by, r.having,
            getattr(r, "group_mode", None),
        )
        agg = any(has_aggregate(i.expr) for i in r.items) or bool(r.group_by) or (
            r.having is not None
        )
        ec = ExprCompiler(frame, self.params, allow_agg=True)
        names: list[str] = []
        out_df: DataFrame

        if agg:
            key_cols: list[Column] = []
            agg_cols: list[Column] = []
            names_gk: list[str] = []  # group keys the output leaves out
            group_reprs = {repr(g) for g in r.group_by}
            for it in r.items:
                name = it.alias or _expr_name(it.expr)
                names.append(name)
                col = ec.compile(it.expr).alias(name)
                if has_aggregate(it.expr):
                    agg_cols.append(col)
                elif group_reprs and repr(it.expr) not in group_reprs:
                    # non-grouped scalar in SELECT form: take arbitrary (first)
                    agg_cols.append(F.first(ec.compile(it.expr)).alias(name))
                else:
                    key_cols.append(col)
            for g in r.group_by:
                if not any(
                    repr(g) == repr(it.expr) for it in r.items if not has_aggregate(it.expr)
                ):
                    names_gk.append(f"__gk{len(key_cols)}")
                    key_cols.append(ec.compile(g).alias(names_gk[-1]))
            having_col = None
            if r.having is not None:
                having_col = ec.compile(r.having).alias("__having")
                agg_cols.append(having_col)
            if not (key_cols or agg_cols):
                out_df = frame.df
            else:
                mode = getattr(r, "group_mode", None)
                # ROLLUP/CUBE lower straight onto Dataset.rollup/cube —
                # Spark expands the grouping sets with one Expand node
                # feeding the same partial/final aggregation, so subtotals
                # cost one pass, not one job per grain
                if mode == "rollup":
                    grouped = frame.df.rollup(*key_cols)
                elif mode == "cube":
                    grouped = frame.df.cube(*key_cols)
                else:
                    grouped = frame.df.groupBy(*key_cols)
                out_df = grouped.agg(*agg_cols)
            if r.having is not None:
                out_df = out_df.filter(F.col("__having")).drop("__having")
            if any(n.startswith("__gk") for n in names + names_gk):
                out_df = out_df.select(
                    *[c for c in out_df.columns if not c.startswith("__gk")]
                )
            post = Frame(out_df, {n: Binding("value") for n in names})
        else:
            sel = []
            for it in r.items:
                if isinstance(it.expr, A.Var) and it.expr.name == "*":
                    for var, b in frame.bindings.items():
                        if b.kind == "value":
                            sel.append(F.col(f"`{var}`" if "." in var else var))
                            names.append(var)
                        else:
                            sel.append(ExprCompiler(frame, self.params).compile(A.Var(var)).alias(var))
                            names.append(var)
                    continue
                name = it.alias or _expr_name(it.expr)
                names.append(name)
                sel.append(ExprCompiler(frame, self.params).compile(it.expr).alias(name))
            out_df = frame.df.select(*sel)
            post = Frame(out_df, {n: Binding("value") for n in names})

        if r.distinct:
            out_df = out_df.dropDuplicates()
            post = Frame(out_df, post.bindings)
        if r.order_by:
            alias_map = {}
            for it, n in zip(r.items, names):
                alias_map[repr(it.expr)] = n
                if it.alias:
                    alias_map[repr(A.Var(it.alias))] = n
            out_df = self._order(post, r.order_by, alias_map, pre_frame=frame)
        if r.skip is not None:
            out_df = out_df.offset(r.skip)
        if r.limit is not None:
            out_df = out_df.limit(r.limit)
        return out_df

    def _order(
        self,
        post: Frame,
        order_by: list[A.SortItem],
        alias_map: dict[str, str],
        pre_frame: Optional[Frame] = None,
    ) -> DataFrame:
        cols = []
        ec_post = ExprCompiler(post, self.params, allow_agg=True)
        for s in order_by:
            key = repr(s.expr)
            if key in alias_map:
                name = alias_map[key]
                # dotted output names (`p.age`) must be backtick-quoted
                # or col() reads them as struct access
                c = F.col(f"`{name}`" if "." in name else name)
            else:
                try:
                    c = ec_post.compile(s.expr)
                except CompileError:
                    raise CompileError(
                        "ORDER BY expression must reference returned columns"
                    )
            if s.asc:
                c = c.asc_nulls_first() if s.nulls_first else (
                    c.asc_nulls_last() if s.nulls_first is False else c.asc()
                )
            else:
                c = c.desc_nulls_first() if s.nulls_first else (
                    c.desc_nulls_last() if s.nulls_first is False else c.desc()
                )
            cols.append(c)
        return post.df.orderBy(*cols)


def transform_expr(e, fn):
    """Bottom-up AST rewrite: fn applied to every node, may replace it."""
    if e is None:
        return None
    if isinstance(e, A.Binary):
        e = A.Binary(e.op, transform_expr(e.left, fn), transform_expr(e.right, fn))
    elif isinstance(e, A.Unary):
        e = A.Unary(e.op, transform_expr(e.operand, fn))
    elif isinstance(e, A.IsPredicate):
        e = A.IsPredicate(transform_expr(e.operand, fn), e.what, e.negated,
                          transform_expr(e.target, fn), e.type_name, e.labels)
    elif isinstance(e, A.Case):
        e = A.Case(
            transform_expr(e.operand, fn),
            [(transform_expr(c, fn), transform_expr(r, fn)) for c, r in e.whens],
            transform_expr(e.else_, fn),
        )
    elif isinstance(e, A.Cast):
        e = A.Cast(transform_expr(e.operand, fn), e.type_name)
    elif isinstance(e, A.Index):
        e = A.Index(transform_expr(e.operand, fn), transform_expr(e.index, fn))
    elif isinstance(e, A.ListLiteral):
        e = A.ListLiteral([transform_expr(i, fn) for i in e.items])
    elif isinstance(e, A.FuncCall):
        e = A.FuncCall(e.name, [transform_expr(a, fn) for a in e.args], e.distinct)
    elif isinstance(e, A.Quantified):
        e = A.Quantified(e.op, e.quant, transform_expr(e.left, fn), transform_expr(e.right, fn))
    elif isinstance(e, A.InSubquery):
        e = A.InSubquery(transform_expr(e.expr, fn), e.query, e.negated)
    elif isinstance(e, A.QuantifiedSubquery):
        e = A.QuantifiedSubquery(e.op, e.quant, transform_expr(e.left, fn), e.query)
    return fn(e)


def _split_and(e: A.Expr) -> list[A.Expr]:
    if isinstance(e, A.Binary) and e.op == "AND":
        return _split_and(e.left) + _split_and(e.right)
    return [e]


def _rewrite_vars(e, mapping: dict):
    """Clone an expression with variable names substituted (used to point
    EXISTS-subquery variables at the renamed right side of a semi-join).
    Subquery nodes are left untouched — their bodies bind their own scope."""
    if e is None:
        return None
    if isinstance(e, A.Var):
        return A.Var(mapping.get(e.name, e.name))
    if isinstance(e, A.Prop):
        base = e.var.split(".")[0]
        if base in mapping:
            rest = e.var[len(base):]
            return A.Prop(mapping[base] + rest, e.key)
        return e
    if isinstance(e, A.Binary):
        return A.Binary(e.op, _rewrite_vars(e.left, mapping), _rewrite_vars(e.right, mapping))
    if isinstance(e, A.Unary):
        return A.Unary(e.op, _rewrite_vars(e.operand, mapping))
    if isinstance(e, A.IsPredicate):
        return A.IsPredicate(_rewrite_vars(e.operand, mapping), e.what, e.negated,
                             _rewrite_vars(e.target, mapping), e.type_name, e.labels)
    if isinstance(e, A.Case):
        return A.Case(
            _rewrite_vars(e.operand, mapping),
            [(_rewrite_vars(c, mapping), _rewrite_vars(r, mapping)) for c, r in e.whens],
            _rewrite_vars(e.else_, mapping),
        )
    if isinstance(e, A.Cast):
        return A.Cast(_rewrite_vars(e.operand, mapping), e.type_name)
    if isinstance(e, A.Index):
        return A.Index(_rewrite_vars(e.operand, mapping), _rewrite_vars(e.index, mapping))
    if isinstance(e, A.ListLiteral):
        return A.ListLiteral([_rewrite_vars(x, mapping) for x in e.items])
    if isinstance(e, A.FuncCall):
        return A.FuncCall(e.name, [_rewrite_vars(a, mapping) for a in e.args],
                          getattr(e, "distinct", False))
    return e


def _expr_vars(e, out: dict, props: dict | None = None) -> None:
    """Count variable references; when ``props`` is given, also record HOW
    each variable is referenced: ``props[var]`` is the set of property
    names accessed, or None once the variable is used as a whole entity
    (which forces full materialization). Every expression node is walked
    through its fields, so a new node type cannot hide a reference from
    join elision or projection pruning; subquery bodies (not expressions)
    are self-contained and skipped."""
    if isinstance(e, A.Var):
        out[e.name] = out.get(e.name, 0) + 2
        if props is not None:
            props[e.name] = None  # entity-level use
    elif isinstance(e, A.Prop):
        base = e.var.split(".")[0]
        out[base] = out.get(base, 0) + 2
        if props is not None:
            if "." in e.var:
                props[base] = None  # nested access: treat as entity use
            elif props.get(base, set()) is not None:
                props.setdefault(base, set()).add(e.key)
    elif isinstance(e, (list, tuple)):  # arguments, items, CASE branches
        for x in e:
            _expr_vars(x, out, props)
    elif isinstance(e, A.Expr):
        if isinstance(e, A.ExistsSubquery):
            for p in e.patterns:
                _pattern_vars(p, out, props)
        for v in vars(e).values():
            _expr_vars(v, out, props)


def _pattern_vars(p: A.PathPattern, out: dict, props: dict | None = None) -> None:
    """Expression references made INSIDE a pattern (inline prop values).

    Bare pattern occurrences of a variable — even shared across several
    patterns — are deliberately NOT counted: a structural occurrence only
    needs the element id, and edge endpoint columns already carry it, so
    the node-table scan+join stays elidable. Only property/entity use in
    an expression forces materialization."""
    for el in p.elements:
        for pe in getattr(el, "props", {}).values():
            _expr_vars(pe, out, props)


def referenced_vars(q: A.Query) -> set[str]:
    """Variables that must materialize their node/edge table: referenced
    by an expression anywhere (WHERE / WITH / RETURN / ORDER / HAVING /
    inline prop values). Purely structural variables — including hub
    nodes shared by multiple patterns — are join keys only; their ids
    come from edge endpoints and the table join is elided (graph
    invariant: edges reference existing, unique node ids)."""
    counts, _props, star = _walk_refs(q)
    if star:
        return {"*"}
    return set(counts)


def referenced_props(q: A.Query) -> dict[str, set | None] | None:
    """Per-variable property footprint: {var: {prop, ...}} for variables
    referenced only through property access, or None as the value when a
    variable is used as a whole entity. Returns None (no information)
    when the query projects * — everything must materialize then. Feeds
    key-derivation elision: a var whose footprint is within the label's
    derivable key needs no node-table join at all."""
    _counts, props, star = _walk_refs(q)
    return None if star else props


def _walk_refs(q: A.Query):
    counts: dict[str, int] = {}
    props: dict[str, set | None] = {}
    star = False
    for cl in q.clauses:
        if isinstance(cl, A.MatchClause):
            for p in cl.patterns:
                _pattern_vars(p, counts, props)
            _expr_vars(cl.where, counts, props)
        elif isinstance(cl, A.WithClause):
            if getattr(cl, "carry_all", False):
                star = True
            for it in cl.items:
                if isinstance(it.expr, A.Var) and it.expr.name == "*":
                    star = True
                else:
                    _expr_vars(it.expr, counts, props)
            _expr_vars(cl.where, counts, props)
            for s_ in cl.order_by:
                _expr_vars(s_.expr, counts, props)
        elif isinstance(cl, A.UnwindClause):
            _expr_vars(cl.expr, counts, props)
        elif isinstance(cl, A.ReturnClause):
            for it in cl.items:
                if isinstance(it.expr, A.Var) and it.expr.name == "*":
                    star = True
                else:
                    _expr_vars(it.expr, counts, props)
            for g in cl.group_by:
                _expr_vars(g, counts, props)
            _expr_vars(cl.having, counts, props)
            _expr_vars(getattr(cl, "select_where", None), counts, props)
            for s_ in cl.order_by:
                _expr_vars(s_.expr, counts, props)
    return counts, props, star
