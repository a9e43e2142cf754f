"""Correctness checks, run outside the timed window.

- Relational results are hash-matched against a DuckDB oracle: same row
  count and the same order-insensitive digest of the canonical rows
  (columns in name order, doubles by ``repr`` — bit-exact, no tolerance),
  the rule the repository's oracle-parity gate uses.
- Index reads are compared with their recompute twins over the corpus the
  index holds at the time of the read.
- The pipeline manifest is too large for its DuckDB oracle (about 7 s per
  500 documents), so it is checked against the generator's ground truth:
  split hash, packing offsets, token counts, languages, at most one
  survivor per duplicated text.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile
from collections import Counter, defaultdict

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(rows, cols) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return len(canon), h.hexdigest()


def duck(data_dir: str, tables=TABLES, threads: int | None = None):
    import duckdb

    con = duckdb.connect()
    # spill, if ever, under the run's temp dir, not the working directory
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    if threads:
        con.execute(f"SET threads = {threads}")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_digest(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return digest(res.fetchall(), cols)


def frame_rows(pdf) -> list[tuple]:
    """Rows of a pandas frame as Python values, ``tolist`` per column; a
    NaN is a missing value (None, as in a collected Row)."""
    cols = [
        [None if isinstance(v, float) and math.isnan(v) else v for v in pdf[c].tolist()]
        for c in pdf.columns
    ]
    return list(zip(*cols))


def spark_digest(rows, cols) -> tuple[int, str]:
    return digest([tuple(r) for r in rows], list(cols))


# ---------------------------------------------------------------------------
# oracles of the engine's reference-surface jobs
# ---------------------------------------------------------------------------


def filter_regex(digits: str, segment: str) -> str:
    """The seeded ``SELECT ALL FROM customer WHERE <regex>`` pattern:
    customers whose name ends in ``digits`` in ``segment``. Quote-free and
    space-free, the same in Java regex and RE2."""
    return f"Customer#[0-9]*{digits},[0-9]+,.*,{segment}$"


def filter_oracle(regex: str) -> str:
    """Keys of the customer lines the regex matches, the line rendered in
    DuckDB (acctbal never reaches the name or segment part of the match)."""
    return f"""
        SELECT c_custkey FROM customer
        WHERE regexp_matches(concat_ws(',', CAST(c_custkey AS VARCHAR), c_name,
              CAST(c_nationkey AS VARCHAR), CAST(c_acctbal AS VARCHAR),
              c_mktsegment), '{regex}')
    """


JOIN_ORACLE = """
    SELECT o_orderkey, o_custkey, c_custkey, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
"""

WORDCOUNT_ORACLE = """
    SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
    FROM (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS word
          FROM documents)
    GROUP BY word
"""


def group_pct_oracle(priority: str) -> str:
    return f"""
        SELECT o_orderstatus AS key,
               concat(CAST(cnt AS VARCHAR), ',',
                      printf('%.2f%%', cnt * 100.0 / sum(cnt) OVER ())) AS value
        FROM (SELECT o_orderstatus, count(*) AS cnt FROM orders
              WHERE o_orderpriority = '{priority}' GROUP BY o_orderstatus)
    """


# ---------------------------------------------------------------------------
# manifest ground-truth checks
# ---------------------------------------------------------------------------


def split_of(doc_id: int, splits: dict[str, float]) -> str:
    """Python twin of ``operators.sampling.split_assign``'s md5 bucket."""
    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 10_000
    acc = 0.0
    items = list(splits.items())
    for label, frac in items[:-1]:
        acc += frac
        if h < int(round(acc * 10_000)):
            return label
    return items[-1][0]


def manifest_problems(rows, corpus, splits: dict[str, float], chunk_tokens: int = 512) -> list[str]:
    """Ground-truth checks of a pretraining manifest over ``corpus``
    (rows: doc_id, lang, split, n_tokens, chunk_id, chunk_offset)."""
    problems: list[str] = []
    ids = [r["doc_id"] for r in rows]
    if len(set(ids)) != len(ids):
        problems.append("duplicate doc_id")
    n = len(corpus.ids)
    by_group = defaultdict(list)
    for r in rows:
        d = r["doc_id"]
        if not 0 <= d < n:
            problems.append(f"unknown doc_id {d}")
            continue
        if r["lang"] != corpus.langs[d]:
            problems.append(f"lang of {d}")
        if r["n_tokens"] != corpus.n_tokens[d]:
            problems.append(f"n_tokens of {d}")
        if r["split"] != split_of(d, splits):
            problems.append(f"split of {d}")
        by_group[(r["lang"], r["split"])].append(r)
    for grp in by_group.values():
        grp.sort(key=lambda r: r["doc_id"])
        start = 0
        for r in grp:
            if (r["chunk_id"], r["chunk_offset"]) != divmod(start, chunk_tokens):
                problems.append(f"packing of {r['doc_id']}")
                break
            start += r["n_tokens"]
    # identical texts always share every LSH band, so at most one copy
    # of any text survives the near-dup prune
    texts = Counter(corpus.texts[d] for d in ids if 0 <= d < n)
    if texts and max(texts.values()) > 1:
        problems.append(f"{sum(c > 1 for c in texts.values())} duplicated texts kept twice")
    if not rows:
        problems.append("empty manifest")
    return problems[:5]

