"""Independent oracles for every workload, run outside the timed region.

- interactive_reads: DuckDB over the same parquet files, rows compared
  as order-insensitive multisets with the normalization and table list
  of ``tools/oracle_check.py``, imported from it so the two cannot drift
  apart.
- write_mix: ``WriteModel``, a plain-Python model of the social graph,
  and BFS over the model's KNOWS edges for the shortest_path_pair call.
"""

from __future__ import annotations

from collections import Counter, deque

from tools.oracle_check import TABLES, _rows_to_set

# -- row comparison -----------------------------------------------------------

def rows_match(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the row multisets are equal (columns matched by name),
    else a one-line description of the difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    return _diff(_rows_to_set(got_cols, got_rows),
                 _rows_to_set(want_cols, want_rows))


def values_match(got_rows, want_rows) -> str | None:
    """``rows_match`` for rows whose columns are in the same order."""
    width = len(want_rows[0]) if want_rows else len(got_rows[0]) if got_rows else 0
    cols = list(range(width))
    return _diff(_rows_to_set(cols, got_rows), _rows_to_set(cols, want_rows))


def _diff(a: list[tuple], b: list[tuple]) -> str | None:
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    if a != b:
        extra = [r for r in a if r not in b][:2]
        missing = [r for r in b if r not in a][:2]
        return f"values differ: got-only {extra} want-only {missing}"
    return None


class DuckOracle:
    """DuckDB views over one directory of benchmark parquet tables, set
    up as ``tools/oracle_check.py`` sets up its own."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def rows(self, sql: str, params: dict | None = None):
        res = self.con.execute(sql, params or {})
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()


# -- write_mix model ----------------------------------------------------------

class WriteModel:
    """Expected state of the Person/KNOWS graph: persons by pid with
    their age, KNOWS edges as a multiset of (src, dst, since)."""

    FRESH_BASE = 1_000_000

    def __init__(self, persons, edges):
        self.ages = {pid: age for pid, _name, age in persons}
        self.edges = Counter(edges)
        self._next = self.FRESH_BASE

    def copy(self) -> "WriteModel":
        m = WriteModel([], [])
        m.ages, m.edges, m._next = dict(self.ages), Counter(self.edges), self._next
        return m

    def alive_pids(self) -> list[int]:
        return sorted(self.ages)

    def fresh_pid(self) -> int:
        self._next += 1
        return self._next

    def age(self, pid: int) -> int:
        return self.ages[pid]

    def insert_person(self, pid: int, age: int) -> None:
        self.ages[pid] = age

    def set_age(self, pid: int, age: int) -> None:
        self.ages[pid] = age

    def insert_edge(self, a: int, b: int, since: int) -> None:
        self.edges[(a, b, since)] += 1

    def edge_count(self, a: int, b: int) -> int:
        return sum(n for (s, d, _), n in self.edges.items() if (s, d) == (a, b))

    def edge_pairs(self) -> list[tuple[int, int]]:
        return sorted({(s, d) for s, d, _ in self.edges})

    def delete_edges(self, a: int, b: int) -> None:
        for k in [k for k in self.edges if k[:2] == (a, b)]:
            del self.edges[k]

    def detach_delete(self, pid: int) -> None:
        del self.ages[pid]
        for k in [k for k in self.edges if pid in k[:2]]:
            del self.edges[k]

    def counts(self) -> dict[str, int]:
        return {"Person": len(self.ages), "KNOWS": sum(self.edges.values())}


# -- graph algorithms ---------------------------------------------------------

def bfs_distance(edges, src, dst, max_hops: int) -> int | None:
    """Directed hop count src -> dst, None if beyond max_hops."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    seen, frontier = {src: 0}, deque([src])
    while frontier:
        x = frontier.popleft()
        if x == dst:
            return seen[x]
        if seen[x] >= max_hops:
            continue
        for y in adj.get(x, ()):
            if y not in seen:
                seen[y] = seen[x] + 1
                frontier.append(y)
    return None
