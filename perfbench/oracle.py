"""Independent oracles for the benchmark's correctness checks.

- ``duckdb_rows`` runs SQL over parquet tables in DuckDB, in a child
  process the caller can kill: a query that cannot finish within its
  time limit is interrupted and reported as ``None`` (the op it checks
  then counts as failed).
- ``bfs_*`` are plain-Python graph walks, written from the documented
  semantics of ``operators.graph_ops`` rather than from its code.
- ``jaccard_pairs`` / ``near_dup_clusters`` are exact all-pairs word
  3-shingle Jaccard, the same definition as the package's DuckDB twins
  in ``__spark_entry__.oracle_sql`` (which take minutes at these sizes).
  The ops they check find candidates by banded MinHash, which may miss
  a pair below ``SURE_JACCARD`` (see there).

Run as a script, this file is the DuckDB child:
``python3 oracle.py <spec.json> <out.jsonl>``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
from collections import Counter, defaultdict, deque
from decimal import Decimal
from itertools import combinations
from pathlib import Path

# Banded MinHash misses a pair of Jaccard J with probability
# (1 - J^r)^b. At the geometry ``operators.dedup.minhash_plan(0.9)``
# picks (r = 9 rows, b = 10 bands) that is 0.75% at J = 0.9, the near-dup
# threshold, and below 1e-6 from J = 0.97 on: a pair at or above this
# Jaccard must be found, one between the threshold and it may be missed.
SURE_JACCARD = 0.97


def duckdb_rows(spec: dict, work: Path, per_query_s: float = 20.0) -> dict[str, list | None]:
    """spec = {"tables": {view: parquet_path}, "queries": {name: sql}}.
    Returns name → rows (lists), or None for a query that errored or
    ran past ``per_query_s``."""
    spec_path, out_path = work / "oracle_spec.json", work / "oracle_out.jsonl"
    spec_path.write_text(json.dumps({**spec, "per_query_s": per_query_s}))
    out_path.unlink(missing_ok=True)
    budget = per_query_s * max(1, len(spec["queries"])) + 30
    proc = subprocess.Popen(
        [sys.executable, __file__, str(spec_path), str(out_path)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    got: dict[str, list | None] = {name: None for name in spec["queries"]}
    if out_path.exists():
        for line in out_path.read_text().splitlines():
            rec = json.loads(line)
            got[rec["name"]] = rec["rows"]
    return got


def _plain(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


def _child(spec_path: str, out_path: str) -> None:
    import duckdb

    spec = json.loads(Path(spec_path).read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if spec.get("tmp"):
        con.execute(f"SET temp_directory = '{spec['tmp']}'")
    for view, path in spec["tables"].items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
    with open(out_path, "w") as out:
        for name, sql in spec["queries"].items():
            timer = threading.Timer(spec["per_query_s"], con.interrupt)
            timer.start()
            try:
                rows = [_plain(list(r)) for r in con.execute(sql).fetchall()]
            except duckdb.Error:
                rows = None
            finally:
                timer.cancel()
            out.write(json.dumps({"name": name, "rows": rows}) + "\n")
            out.flush()


def _bfs(adj: dict, start, max_depth: int, start_seen: bool) -> dict:
    """First-discovery depth of every node reachable from ``start`` in
    1..max_depth steps. With ``start_seen`` false the start node itself
    can be reached again through a cycle."""
    depth = {start: 0} if start_seen else {}
    queue = deque([(start, 0)])
    while queue:
        node, d = queue.popleft()
        if d == max_depth:
            continue
        for nxt in adj.get(node, ()):
            if nxt not in depth:
                depth[nxt] = d + 1
                queue.append((nxt, d + 1))
    return depth


def _adj(pairs) -> dict:
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    return adj


def bfs_descendants(edges: list[tuple[str, str, str]], root: str, max_depth: int = 64) -> list[tuple]:
    """Nodes with a SUBCLASS_OF path to ``root`` → (name, depth)."""
    adj = _adj((dst, src) for src, rel, dst in edges if rel == "SUBCLASS_OF")
    return sorted(_bfs(adj, root, max_depth, start_seen=False).items())


def bfs_ancestors(edges: list[tuple[str, str, str]], leaf: str, max_depth: int = 64) -> list[tuple]:
    """Nodes reachable from ``leaf`` along SUBCLASS_OF → (name, depth)."""
    adj = _adj((src, dst) for src, rel, dst in edges if rel == "SUBCLASS_OF")
    return sorted(_bfs(adj, leaf, max_depth, start_seen=False).items())


def bfs_shortest_path(edges: list[tuple[str, str, str]], a: str, b: str, max_depth: int = 32):
    """Undirected hop count a↔b over every edge type; None if unreachable."""
    pairs = [(s, d) for s, _, d in edges]
    adj = _adj(pairs + [(d, s) for s, d in pairs])
    if a == b:
        return None
    return _bfs(adj, a, max_depth, start_seen=True).get(b)


def _shingles(text: str, n: int) -> set[str]:
    # lower(trim(text)) split on runs of whitespace, as the SQL twin does
    toks = re.split(r"\s+", text.strip(" ").lower())
    return {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}


def jaccard_pairs(docs: list[tuple[int, str]], threshold: float = 0.9, n: int = 3) -> list[tuple]:
    """Every (id_a < id_b, jaccard rounded to 4) with jaccard >= threshold.
    Exact: the shared-shingle count of every pair that shares one comes
    from an inverted index, so no pair is skipped."""
    sh = {i: g for i, t in docs if (g := _shingles(t, n))}
    postings: dict[str, list] = defaultdict(list)
    for i in sorted(sh):
        for g in sh[i]:
            postings[g].append(i)
    shared: Counter = Counter()
    for ids in postings.values():
        for a, b in combinations(ids, 2):
            shared[(a, b)] += 1
    out = []
    for (a, b), c in shared.items():
        j = c / (len(sh[a]) + len(sh[b]) - c)
        if j >= threshold:
            out.append((a, b, round(j, 4)))
    return sorted(out)


def near_dup_clusters(pairs: list[tuple]) -> list[tuple[int, int]]:
    """Connected components of the pair graph → (min id, size)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict = {}
    for x in list(parent):
        groups.setdefault(find(x), []).append(x)
    return sorted((min(g), len(g)) for g in groups.values() if len(g) >= 2)


if __name__ == "__main__":
    os.environ.setdefault("OMP_NUM_THREADS", "2")
    _child(sys.argv[1], sys.argv[2])
