"""Recursive-descent GQL parser → AST.

Covers the reference's read-query surface (GraphLite
`graphlite/src/ast/parser.rs`, 5.6k LoC Rust recursive descent):
MATCH / OPTIONAL MATCH / WHERE / WITH / UNWIND / RETURN pipelines,
set operations, patterns with quantifiers and direction, and the full
expression grammar (precedence per ast.rs:569-607). DML/DDL statements
are handled by a separate statement layer.
"""

from __future__ import annotations

from .ast import (
    Binary, Case, Cast, CountStar, EdgePattern, ExistsSubquery, Expr,
    FuncCall, Index, IsPredicate, ListLiteral, Literal, MatchClause,
    NodePattern, Param, PathPattern, Prop, Quantified, Query, ReturnClause,
    ReturnItem, SetOp, SortItem, Unary, UnwindClause, Var, WithClause,
)
from .lexer import ParseError, Token, tokenize

__all__ = ["ParseError", "Parser", "parse"]


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = tokenize(text)
        self.i = 0

    # -- token helpers -----------------------------------------------------
    @property
    def cur(self) -> Token:
        return self.toks[self.i]

    def peek(self, k: int = 1) -> Token:
        j = min(self.i + k, len(self.toks) - 1)
        return self.toks[j]

    def advance(self) -> Token:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        return self.cur.kind == "KEYWORD" and self.cur.value in kws

    def at_op(self, *ops: str) -> bool:
        return self.cur.kind == "OP" and self.cur.value in ops

    def eat_kw(self, kw: str) -> Token:
        if not self.at_kw(kw):
            raise ParseError(f"expected {kw}, got {self.cur} at {self.cur.pos}")
        return self.advance()

    def eat_op(self, op: str) -> Token:
        if not self.at_op(op):
            raise ParseError(f"expected {op!r}, got {self.cur} at {self.cur.pos}")
        return self.advance()

    def try_kw(self, *kws: str) -> bool:
        if self.at_kw(*kws):
            self.advance()
            return True
        return False

    def ident(self) -> str:
        t = self.cur
        if t.kind == "IDENT":
            return self.advance().value
        # allow non-reserved keywords as identifiers in name position
        if t.kind == "KEYWORD":
            tok = self.advance()
            return tok.text or tok.value
        raise ParseError(f"expected identifier, got {t} at {t.pos}")

    # -- entry -------------------------------------------------------------
    def parse(self):
        self._from_graph = None
        q = self.parse_set_query()
        if self.at_op(";"):
            self.advance()
        if self.cur.kind != "EOF":
            raise ParseError(f"trailing input at {self.cur.pos}: {self.cur}")
        if self._from_graph:
            q.from_graph = self._from_graph  # type: ignore[attr-defined]
        return q

    def parse_set_query(self):
        left = self.parse_query()
        while self.at_kw("UNION", "INTERSECT", "EXCEPT"):
            op = self.advance().value
            all_ = self.try_kw("ALL")
            if self.try_kw("DISTINCT"):
                all_ = False
            right = self.parse_query()
            left = SetOp(op, all_, left, right)
        return left

    # -- query pipeline ----------------------------------------------------
    def parse_query(self) -> Query:
        clauses: list = []
        while True:
            if self.at_kw("MATCH") or (self.at_kw("OPTIONAL") and self.peek().value == "MATCH"):
                optional = self.try_kw("OPTIONAL")
                self.eat_kw("MATCH")
                patterns = [self.parse_path_pattern()]
                while self.at_op(","):
                    self.advance()
                    patterns.append(self.parse_path_pattern())
                where = self.parse_expr() if self.try_kw("WHERE") else None
                clauses.append(MatchClause(patterns, where, optional))
            elif self.at_kw("WITH"):
                self.advance()
                clauses.append(self._parse_with())
            elif self.at_kw("UNWIND"):
                self.advance()
                e = self.parse_expr()
                self.eat_kw("AS")
                clauses.append(UnwindClause(e, self.ident()))
            elif self.at_kw("FOR"):
                # FOR x IN <list> (ast.rs:228-265) — UNWIND equivalent
                self.advance()
                name = self.ident()
                self.eat_kw("IN")
                clauses.append(UnwindClause(self.parse_expr(), name))
            elif self.at_kw("FILTER"):
                # FILTER <expr> statement (ast.rs:228-265) == WHERE on pipeline
                self.advance()
                self.try_kw("WHERE")
                clauses.append(MatchClause([], self.parse_expr(), False))
            elif self.at_kw("LET"):
                # LET x = expr [, y = expr]  → WITH *, expr AS x
                self.advance()
                items = []
                while True:
                    name = self.ident()
                    self.eat_op("=")
                    items.append(ReturnItem(self.parse_expr(), name))
                    if self.at_op(","):
                        self.advance()
                        continue
                    break
                w = WithClause(items)
                w.carry_all = True  # type: ignore[attr-defined]
                clauses.append(w)
            elif self.at_kw("RETURN"):
                self.advance()
                clauses.append(self._parse_return())
                break
            elif self.at_kw("SELECT"):
                mc, rc, from_graph = self._parse_select()
                if mc is not None:
                    clauses.append(mc)
                clauses.append(rc)
                if from_graph:
                    self._from_graph = from_graph
                break
            else:
                raise ParseError(f"unexpected {self.cur} at {self.cur.pos}")
        return Query(clauses)

    def _parse_items(self) -> list[ReturnItem]:
        items = [self._parse_item()]
        while self.at_op(","):
            self.advance()
            items.append(self._parse_item())
        return items

    def _parse_item(self) -> ReturnItem:
        if self.at_op("*"):
            self.advance()
            return ReturnItem(Var("*"), None)
        e = self.parse_expr()
        alias = None
        if self.try_kw("AS"):
            alias = self.ident()
        return ReturnItem(e, alias)

    def _parse_order_skip_limit(self):
        order_by: list[SortItem] = []
        skip = limit = None
        if self.at_kw("ORDER"):
            self.advance()
            self.eat_kw("BY")
            while True:
                e = self.parse_expr()
                asc = True
                if self.at_kw("ASC", "ASCENDING"):
                    self.advance()
                elif self.at_kw("DESC", "DESCENDING"):
                    self.advance()
                    asc = False
                nulls_first = None
                if self.try_kw("NULLS"):
                    nulls_first = self.try_kw("FIRST") or not self.eat_kw("LAST")
                order_by.append(SortItem(e, asc, nulls_first))
                if self.at_op(","):
                    self.advance()
                    continue
                break
        if self.at_kw("SKIP") or self.at_kw("OFFSET"):
            self.advance()
            skip = self._int_token("SKIP/OFFSET")
        if self.try_kw("LIMIT"):
            limit = self._int_token("LIMIT")
            if self.at_kw("OFFSET") or self.at_kw("SKIP"):
                self.advance()
                skip = self._int_token("SKIP/OFFSET")
        return order_by, skip, limit

    def _int_token(self, what: str) -> int:
        """Consume an integer NUMBER token or raise ParseError (a bare
        int() here would leak ValueError on garbage/float input)."""
        t = self.cur
        if t.kind != "NUMBER":
            raise ParseError(f"expected integer for {what} at {t.pos}, got {t.value!r}")
        self.advance()
        try:
            return int(t.value)
        except ValueError:
            raise ParseError(
                f"expected integer for {what} at {t.pos}, got {t.value!r}"
            ) from None

    def _parse_with(self) -> WithClause:
        distinct = self.try_kw("DISTINCT")
        items = self._parse_items()
        where = self.parse_expr() if self.try_kw("WHERE") else None
        order_by, skip, limit = self._parse_order_skip_limit()
        # WHERE may follow ORDER BY in some dialects; keep simple order.
        return WithClause(items, distinct, where, order_by, skip, limit)

    def _parse_group_by(self) -> tuple[list[Expr], Optional[str]]:
        """[GROUP BY [ROLLUP|CUBE (] e, ... [)]] — ROLLUP/CUBE are a
        beyond-reference extension (the reference's GROUP BY is plain,
        with_clause_processor.rs:411-916; Spark gives subtotal grouping
        sets natively via Dataset.rollup/cube)."""
        group_by: list[Expr] = []
        mode: Optional[str] = None
        if not self.at_kw("GROUP"):
            return group_by, mode
        self.advance()
        self.eat_kw("BY")
        if self.cur.kind == "IDENT" and self.cur.value.upper() in ("ROLLUP", "CUBE"):
            mode = self.advance().value.lower()
            self.eat_op("(")
            group_by.append(self.parse_expr())
            while self.at_op(","):
                self.advance()
                group_by.append(self.parse_expr())
            self.eat_op(")")
            return group_by, mode
        group_by.append(self.parse_expr())
        while self.at_op(","):
            self.advance()
            group_by.append(self.parse_expr())
        return group_by, mode

    def _parse_return(self) -> ReturnClause:
        distinct = self.try_kw("DISTINCT")
        items = self._parse_items()
        group_by, group_mode = self._parse_group_by()
        having = None
        if self.try_kw("HAVING"):
            having = self.parse_expr()
        order_by, skip, limit = self._parse_order_skip_limit()
        return ReturnClause(
            items, distinct, order_by, skip, limit, group_by, having, group_mode
        )

    def _parse_select(self):
        """SELECT [DISTINCT] items [FROM graph [MATCH pattern]] [WHERE]
        [GROUP BY] [HAVING] [ORDER BY] [LIMIT] — SQL-flavored GQL
        (ast.rs:42-80; executed at executor.rs:3134-3285). Returns
        (match_clause|None, return_clause, from_graph|None)."""
        self.eat_kw("SELECT")
        distinct = self.try_kw("DISTINCT")
        if not distinct:
            self.try_kw("ALL")  # explicit bag semantics — the default
        items = self._parse_items()
        from_graph = None
        patterns = []
        if self.try_kw("FROM"):
            # "FROM MATCH ..." (reference extension, parser.rs:1024-1032)
            # keeps the session graph; otherwise FROM names a graph path
            if not self.at_kw("MATCH"):
                parts = []
                if self.at_op("/"):
                    self.advance()
                    parts.append("")
                parts.append(self.ident())
                while self.at_op("/"):
                    self.advance()
                    parts.append(self.ident())
                from_graph = "/".join(parts)
        if self.try_kw("MATCH"):
            patterns.append(self.parse_path_pattern())
            while self.at_op(","):
                self.advance()
                patterns.append(self.parse_path_pattern())
        else:
            # reference behavior (executor.rs:3161-3177): SELECT without a
            # MATCH clause implicitly matches every node as ``n``
            patterns.append(PathPattern([NodePattern("n", [], {})], None))
        where = self.parse_expr() if self.try_kw("WHERE") else None
        group_by, group_mode = self._parse_group_by()
        having = None
        if self.try_kw("HAVING"):
            having = self.parse_expr()
        order_by, skip, limit = self._parse_order_skip_limit()
        rc = ReturnClause(
            items, distinct, order_by, skip, limit, group_by, having, group_mode
        )
        mc = None
        if patterns:
            mc = MatchClause(patterns, where)
        elif where is not None:
            rc.select_where = where  # type: ignore[attr-defined]
        return mc, rc, from_graph

    # -- patterns ------------------------------------------------------------
    def parse_path_pattern(self) -> PathPattern:
        pvar = None
        if self.cur.kind == "IDENT" and self.peek().kind == "OP" and self.peek().value == "=":
            pvar = self.advance().value
            self.eat_op("=")
        mode = "WALK"
        if self.at_kw("WALK", "TRAIL", "SIMPLE", "ACYCLIC", "SHORTEST"):
            mode = self.advance().value
            if mode == "SHORTEST":
                self.try_kw("PATH") or self.try_kw("PATHS")
                mode = "WALK"  # unbounded expansion is BFS = min-dist already
        elements: list = [self.parse_node_pattern()]
        while self.at_op("-", "<-", "->", "<"):
            edge = self.parse_edge_pattern()
            edge.mode = mode
            node = self.parse_node_pattern()
            elements.extend([edge, node])
        return PathPattern(elements, pvar)

    def parse_node_pattern(self) -> NodePattern:
        self.eat_op("(")
        var = None
        labels: list[str] = []
        props: dict[str, Expr] = {}
        if self.cur.kind == "IDENT":
            var = self.advance().value
        if self.at_op(":"):
            self.advance()
            labels.append(self.ident())
            while self.at_op("|", ":"):
                self.advance()
                labels.append(self.ident())
        if self.at_op("{"):
            props = self._parse_prop_map()
        self.eat_op(")")
        return NodePattern(var, labels, props)

    def parse_edge_pattern(self) -> EdgePattern:
        direction = "out"
        if self.at_op("<-"):
            self.advance()
            direction = "in"
        elif self.at_op("<"):
            # "<->" arrives as '<', '->' from the lexer
            self.advance()
            if self.at_op("->"):
                self.advance()
                return EdgePattern(None, [], {}, "both")
            raise ParseError(f"unexpected '<' at {self.cur.pos}")
        elif self.at_op("-"):
            self.advance()
            direction = "undecided"  # resolved after closing -> or -
        ep = EdgePattern(None, [], {}, "out")
        if self.at_op("["):
            self.advance()
            if self.cur.kind == "IDENT" and not self.at_op(":"):
                ep.var = self.advance().value
            if self.at_op(":"):
                self.advance()
                ep.types.append(self.ident())
                while self.at_op("|"):
                    self.advance()
                    ep.types.append(self.ident())
            if self.at_op("{"):
                q = self._try_quantifier_brace()
                if q is not None:
                    ep.quant = q
                else:
                    ep.props = self._parse_prop_map()
            if self.at_op("*"):
                self.advance()
                ep.quant = self._parse_star_quant()
            if self.at_op("{"):
                q = self._try_quantifier_brace()
                if q is not None:
                    ep.quant = q
            self.eat_op("]")
        # quantifier can sit after the bracket: -[:T]{1,3}->
        if self.at_op("{"):
            q = self._try_quantifier_brace()
            if q is not None:
                ep.quant = q
        if self.at_op("*"):
            self.advance()
            ep.quant = self._parse_star_quant()
        if self.at_op("?"):
            self.advance()
            ep.quant = (0, 1)
        # closing arrow
        if direction == "in":
            if self.at_op(">"):  # '<->' lexes as '<-' '>'
                self.advance()
                ep.direction = "both"
            else:
                self.eat_op("-")
                ep.direction = "in"
        else:
            if self.at_op("->"):
                self.advance()
                ep.direction = "out"
            elif self.at_op("-"):
                self.advance()
                ep.direction = "both"
            else:
                raise ParseError(f"expected -> or - at {self.cur.pos}")
        return ep

    def _parse_star_quant(self):
        lo, hi = 1, None
        if self.cur.kind == "NUMBER":
            lo = self._int_token("path quantifier")
            hi = lo
            if self.at_op(".."):
                self.advance()
                hi = self._int_token("path quantifier") if self.cur.kind == "NUMBER" else None
        elif self.at_op(".."):
            self.advance()
            lo = 1
            hi = self._int_token("path quantifier") if self.cur.kind == "NUMBER" else None
        return (lo, hi)

    def _try_quantifier_brace(self):
        """Distinguish quantifier ``{1,3}`` from a property map ``{k: v}``."""
        save = self.i
        self.eat_op("{")
        if self.cur.kind != "NUMBER" and not self.at_op(","):
            self.i = save
            return None
        lo = 0
        hi = None
        if self.cur.kind == "NUMBER":
            lo = self._int_token("path quantifier")
            hi = lo
        if self.at_op(","):
            self.advance()
            hi = self._int_token("path quantifier") if self.cur.kind == "NUMBER" else None
        self.eat_op("}")
        return (lo, hi)

    def _parse_prop_map(self) -> dict[str, Expr]:
        self.eat_op("{")
        props: dict[str, Expr] = {}
        while not self.at_op("}"):
            key = self.ident()
            self.eat_op(":")
            props[key] = self.parse_expr()
            if self.at_op(","):
                self.advance()
        self.eat_op("}")
        return props

    # -- expressions (precedence per ast.rs:569-607) -------------------------
    def parse_expr(self) -> Expr:
        return self._parse_or()

    def _parse_or(self) -> Expr:
        left = self._parse_xor()
        while self.at_kw("OR"):
            self.advance()
            left = Binary("OR", left, self._parse_xor())
        return left

    def _parse_xor(self) -> Expr:
        left = self._parse_and()
        while self.at_kw("XOR"):
            self.advance()
            left = Binary("XOR", left, self._parse_and())
        return left

    def _parse_and(self) -> Expr:
        left = self._parse_not()
        while self.at_kw("AND"):
            self.advance()
            left = Binary("AND", left, self._parse_not())
        return left

    def _parse_not(self) -> Expr:
        if self.at_kw("NOT"):
            self.advance()
            return Unary("NOT", self._parse_not())
        return self._parse_comparison()

    def _parse_comparison(self) -> Expr:
        left = self._parse_additive()
        while True:
            if self.at_op("=", "<>", "!=", "<", "<=", ">", ">=", "=~", "~="):
                op = self.advance().value
                if op == "!=":
                    op = "<>"
                if self.at_kw("ALL", "ANY", "SOME"):
                    quant = self.advance().value
                    sub = self._maybe_subquery_operand()
                    if sub is not None:
                        from .ast import QuantifiedSubquery
                        left = QuantifiedSubquery(op, quant, left, sub)
                    else:
                        self.eat_op("(")
                        right = self.parse_expr()
                        self.eat_op(")")
                        left = Quantified(op, quant, left, right)
                else:
                    left = Binary(op, left, self._parse_additive())
            elif self.at_kw("IS"):
                self.advance()
                negated = self.try_kw("NOT")
                if self.at_kw("NULL", "TRUE", "FALSE", "UNKNOWN", "NORMALIZED",
                              "DIRECTED"):
                    what = self.advance().value
                    left = IsPredicate(left, what, negated)
                elif self.at_kw("SOURCE", "DESTINATION"):
                    # topology predicates: n IS SOURCE OF e (parser.rs:3765-3790)
                    what = self.advance().value
                    target = None
                    if self.try_kw("OF"):
                        target = self._parse_additive()
                    left = IsPredicate(left, what, negated, target=target)
                elif self.at_kw("TYPED"):
                    # IS TYPED type_spec (parser.rs:3792-3793)
                    self.advance()
                    tn = self.ident().upper()
                    if self.at_op("("):  # STRING(30), FLOAT(53): params ignored
                        while not self.at_op(")"):
                            self.advance()
                        self.advance()
                    left = IsPredicate(left, "TYPED", negated, type_name=tn)
                elif self.at_op(":"):
                    # label predicate: n IS :L1|L2 or :L1:L2 (parser.rs:3797,
                    # label_expression:3008-3040; '%' wildcard = any label)
                    labels = []
                    while self.at_op(":", "|"):
                        self.advance()
                        if self.at_op("%"):
                            self.advance()
                            labels.append("%")
                        else:
                            labels.append(self.ident())
                    left = IsPredicate(left, "LABEL", negated,
                                       labels=tuple(labels))
                else:
                    raise ParseError(f"unsupported IS predicate at {self.cur.pos}")
            elif self.at_kw("IN"):
                self.advance()
                sub = self._maybe_subquery_operand()
                if sub is not None:
                    from .ast import InSubquery
                    left = InSubquery(left, sub, negated=False)
                else:
                    left = Binary("IN", left, self._parse_additive())
            elif self.at_kw("NOT") and self.peek().kind == "KEYWORD" and self.peek().value == "IN":
                self.advance()
                self.advance()
                sub = self._maybe_subquery_operand()
                if sub is not None:
                    from .ast import InSubquery
                    left = InSubquery(left, sub, negated=True)
                else:
                    left = Unary("NOT", Binary("IN", left, self._parse_additive()))
            elif self.at_kw("CONTAINS"):
                self.advance()
                left = Binary("CONTAINS", left, self._parse_additive())
            elif self.at_kw("STARTS"):
                self.advance()
                self.eat_kw("WITH")
                left = Binary("STARTS_WITH", left, self._parse_additive())
            elif self.at_kw("ENDS"):
                self.advance()
                self.eat_kw("WITH")
                left = Binary("ENDS_WITH", left, self._parse_additive())
            elif self.at_kw("LIKE"):
                self.advance()
                left = Binary("LIKE", left, self._parse_additive())
            elif self.at_kw("WITHIN"):
                self.advance()
                left = Binary("WITHIN", left, self._parse_additive())
            elif self.at_kw("BETWEEN"):
                self.advance()
                lo = self._parse_additive()
                self.eat_kw("AND")
                hi = self._parse_additive()
                left = Binary("AND", Binary(">=", left, lo), Binary("<=", left, hi))
            else:
                return left

    def _maybe_subquery_operand(self):
        """After IN / NOT IN: ``( MATCH ... )`` / ``( SELECT ... )`` is a
        subquery operand (reference parser.rs:1711-1830 tries basic_query
        inside the parens before an expression list)."""
        if (
            self.at_op("(")
            and self.peek().kind == "KEYWORD"
            and self.peek().value in ("MATCH", "SELECT", "OPTIONAL")
        ):
            self.advance()
            sub = self.parse_set_query()
            self.eat_op(")")
            return sub
        return None

    def _parse_additive(self) -> Expr:
        left = self._parse_multiplicative()
        while self.at_op("+", "-", "||"):
            op = self.advance().value
            left = Binary(op, left, self._parse_multiplicative())
        return left

    def _parse_multiplicative(self) -> Expr:
        left = self._parse_power()
        while self.at_op("*", "/", "%"):
            op = self.advance().value
            left = Binary(op, left, self._parse_power())
        return left

    def _parse_power(self) -> Expr:
        left = self._parse_unary()
        if self.at_op("^"):
            self.advance()
            return Binary("^", left, self._parse_power())  # right-assoc
        return left

    def _parse_unary(self) -> Expr:
        if self.at_op("-"):
            self.advance()
            return Unary("-", self._parse_unary())
        if self.at_op("+"):
            self.advance()
            return self._parse_unary()
        return self._parse_postfix()

    def _parse_postfix(self) -> Expr:
        e = self._parse_primary()
        while True:
            if self.at_op("."):
                self.advance()
                key = self.ident()
                if isinstance(e, Var):
                    e = Prop(e.name, key)
                elif isinstance(e, Prop):
                    e = Prop(f"{e.var}.{e.key}", key)
                else:
                    e = FuncCall("_FIELD", [e, Literal(key)])
            elif self.at_op("["):
                self.advance()
                idx = self.parse_expr()
                self.eat_op("]")
                e = Index(e, idx)
            else:
                return e

    def _parse_primary(self) -> Expr:
        t = self.cur
        if t.kind == "NUMBER":
            self.advance()
            if "." in t.value or "e" in t.value or "E" in t.value:
                return Literal(float(t.value))
            return Literal(int(t.value))
        if t.kind == "STRING":
            self.advance()
            return Literal(t.value)
        if t.kind == "PARAM":
            self.advance()
            return Param(t.value)
        if self.at_kw("TRUE"):
            self.advance()
            return Literal(True)
        if self.at_kw("FALSE"):
            self.advance()
            return Literal(False)
        if self.at_kw("NULL"):
            self.advance()
            return Literal(None)
        if self.at_op("("):
            self.advance()
            e = self.parse_expr()
            self.eat_op(")")
            return e
        if self.at_op("["):
            self.advance()
            items = []
            while not self.at_op("]"):
                items.append(self.parse_expr())
                if self.at_op(","):
                    self.advance()
            self.eat_op("]")
            return ListLiteral(items)
        if self.at_kw("PATH") and self.peek().kind == "OP" and self.peek().value == "[":
            # PATH [n1, e1, n2, ...] literal constructor (ast.rs:1227-1231)
            from .ast import PathLit

            self.advance()
            self.eat_op("[")
            items = []
            while not self.at_op("]"):
                items.append(self.parse_expr())
                if self.at_op(","):
                    self.advance()
            self.eat_op("]")
            return PathLit(items)
        if self.at_kw("COUNT"):
            self.advance()
            self.eat_op("(")
            if self.at_op("*"):
                self.advance()
                self.eat_op(")")
                return CountStar()
            distinct = self.try_kw("DISTINCT")
            arg = self.parse_expr()
            self.eat_op(")")
            return FuncCall("COUNT", [arg], distinct)
        if self.at_kw("EXISTS"):
            self.advance()
            self.eat_op("{")
            self.try_kw("MATCH")
            patterns = [self.parse_path_pattern()]
            while self.at_op(","):
                self.advance()
                patterns.append(self.parse_path_pattern())
            where = self.parse_expr() if self.try_kw("WHERE") else None
            self.eat_op("}")
            return ExistsSubquery(patterns, where)
        if self.at_kw("CASE"):
            return self._parse_case()
        if self.at_kw("CAST"):
            self.advance()
            self.eat_op("(")
            e = self.parse_expr()
            self.eat_kw("AS")
            tn = self.ident().upper()
            # types with params: DECIMAL(p,s), STRING(n), FLOAT(p)
            if self.at_op("("):
                depth = 0
                parts = []
                while True:
                    if self.at_op("("):
                        depth += 1
                    elif self.at_op(")"):
                        depth -= 1
                        if depth == 0:
                            parts.append(self.advance().value)
                            break
                    parts.append(self.advance().value)
                tn = tn + "".join(parts)
            self.eat_op(")")
            return Cast(e, tn)
        if self.at_kw("EXTRACT"):
            self.advance()
            self.eat_op("(")
            field_name = self.ident().upper()
            self.eat_kw("FROM")
            e = self.parse_expr()
            self.eat_op(")")
            return FuncCall("EXTRACT", [Literal(field_name), e])
        if t.kind == "IDENT" and t.value.upper() == "VALUE" and self.peek().kind == "OP" and self.peek().value == "{":
            self.advance()
            self.eat_op("{")
            sub = self.parse_set_query()
            self.eat_op("}")
            from .ast import ScalarSubquery
            return ScalarSubquery(sub)
        if t.kind == "IDENT" or t.kind == "KEYWORD":
            # function call or bare variable
            name = self.advance().value
            if self.at_op("("):
                self.advance()
                distinct = self.try_kw("DISTINCT")
                args = []
                while not self.at_op(")"):
                    args.append(self.parse_expr())
                    if self.at_op(","):
                        self.advance()
                self.eat_op(")")
                return FuncCall(name.upper(), args, distinct)
            if t.kind == "KEYWORD":
                raise ParseError(f"unexpected keyword {name} at {t.pos}")
            return Var(name)
        raise ParseError(f"unexpected {t} at {t.pos}")

    def _parse_case(self) -> Case:
        self.eat_kw("CASE")
        operand = None
        if not self.at_kw("WHEN"):
            operand = self.parse_expr()
        whens = []
        while self.try_kw("WHEN"):
            cond = self.parse_expr()
            self.eat_kw("THEN")
            whens.append((cond, self.parse_expr()))
        else_ = self.parse_expr() if self.try_kw("ELSE") else None
        self.eat_kw("END")
        return Case(operand, whens, else_)


def parse(text: str):
    return Parser(text).parse()
