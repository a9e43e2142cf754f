"""Seeded input generation for the benchmark.

Every input a workload feeds the engine is made here from ``--seed``:
the TPC-H-style star schema, the ``events`` stream table, the
``documents``/``embeddings`` tables the standing indexes serve, the
pipeline corpus with a stated near-duplicate share, the ingest split and
batch order, the read-request streams and the batch-job order. The same
seed gives byte-identical parquet files and identical request streams
(``perfbench/tests/test_gen.py`` checks it). Ground truth the checks need
(for instance which corpus documents are near-duplicate copies of which)
stays in the returned Python objects; the engine only ever sees the
files.

Table shapes follow the repository's reference test data at sf0.1: the
same column names and types, the same 30-word vocabulary, document
lengths uniform in 10..100 tokens, unit-norm 64-d embeddings.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("cold", "hot", "large", "new", "red", "small", "old", "blue")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "nut", "pipe")
EMB_DIM = 64

#: share of corpus documents that are near-duplicate copies of another
NEAR_DUP_SHARE = 0.30
#: share of index documents/vectors that are near-duplicate copies
INDEX_DUP_SHARE = 0.30

_EPOCH = dt.datetime(2022, 1, 1)
_DAYS = 4 * 365


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream: adding a stream never
    shifts the numbers another stream draws."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _pick(values, idx: np.ndarray) -> pa.Array:
    """Strings ``values[idx]`` as an arrow array (dictionary decode, no
    per-row Python)."""
    return pa.DictionaryArray.from_arrays(pa.array(idx.astype(np.int32)), pa.array(list(values))).cast(pa.string())


def _days(base: np.ndarray) -> np.ndarray:
    return (np.datetime64(_EPOCH, "us") + base.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


# ---------------------------------------------------------------------------
# star schema + events
# ---------------------------------------------------------------------------


def write_star(out_dir: str, seed: int, scale: float) -> None:
    """region, nation, customer, supplier, part, orders, lineitem, events
    as parquet under ``out_dir``, and the orders as raw text lines."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_ev = max(200, int(1_000_000 * scale))
    _write(
        os.path.join(out_dir, "region.parquet"),
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    _write(
        os.path.join(out_dir, "nation.parquet"),
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
    )

    r = _rng(seed, "customer")
    _write(
        os.path.join(out_dir, "customer.parquet"),
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": _pick(SEGMENTS, r.integers(0, 5, n_cust)),
        },
    )

    r = _rng(seed, "supplier")
    _write(
        os.path.join(out_dir, "supplier.parquet"),
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2)),
        },
    )

    r = _rng(seed, "part")
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    _write(
        os.path.join(out_dir, "part.parquet"),
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], adj * 8 + noun),
            "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], r.integers(0, 25, n_part)),
            "p_type": _pick(PART_TYPES, r.integers(0, 6, n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        },
    )

    r = _rng(seed, "orders")
    odays = r.integers(0, _DAYS, n_ord)
    orders = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(("F", "O", "P"), r.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(_days(odays)),
        "o_orderpriority": _pick(PRIORITIES, r.integers(0, 5, n_ord)),
    }
    _write(os.path.join(out_dir, "orders.parquet"), orders)
    # the same orders as raw comma-joined lines, the form ``put`` loads
    # as text: key,cust,status,price,date,priority
    fields = [
        pc.cast(orders["o_orderkey"], pa.string()),
        pc.cast(orders["o_custkey"], pa.string()),
        orders["o_orderstatus"],
        pc.cast(orders["o_totalprice"], pa.string()),
        pc.strftime(orders["o_orderdate"], "%Y-%m-%d"),
        orders["o_orderpriority"],
    ]
    write_lines(out_dir, "orders_lines", pc.binary_join_element_wise(*fields, ",").to_pylist())

    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    _write(
        os.path.join(out_dir, "lineitem.parquet"),
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(r.uniform(900, 105_000, n_li), 2)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(("A", "N", "R"), r.integers(0, 3, n_li)),
            "l_linestatus": _pick(("F", "O"), r.integers(0, 2, n_li)),
            "l_shipdate": pa.array(_days(np.repeat(odays, per) + r.integers(1, 122, n_li))),
        },
    )

    r = _rng(seed, "events")
    secs = np.sort(r.uniform(0, 30 * 86400, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype(
        "timedelta64[us]"
    )
    _write(
        os.path.join(out_dir, "events.parquet"),
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(r.integers(0, max(10, n_ev // 66), n_ev).astype(np.int64)),
            "event_type": _pick(EVENT_TYPES, r.integers(0, 5, n_ev)),
            "value": pa.array(np.round(r.exponential(30.0, n_ev), 2)),
            "props": _pick([f'{{"k": {k}}}' for k in range(100)], r.integers(0, 100, n_ev)),
        },
    )


def write_lines(out_dir: str, name: str, lines: list[str]) -> str:
    """One text file of lines — the form the reference's ``put`` loads."""
    path = os.path.join(out_dir, f"{name}.txt")
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return path


# ---------------------------------------------------------------------------
# documents / corpus / embeddings
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    """Generated documents plus the ground truth the checks use."""

    ids: np.ndarray
    texts: list[str]
    langs: list[str]
    n_tokens: np.ndarray
    #: id of the original a document copies, or -1 for an original
    copy_of: np.ndarray


def make_corpus(seed: int, n: int, dup_share: float, stream: str = "corpus") -> Corpus:
    """``n`` documents over ``VOCAB``; a ``dup_share`` of them are copies
    of an earlier original, half verbatim and half with ``dup`` appended
    (Jaccard over 3-shingles of at least 8/9), so every copy shares its
    text with the original or with the other appended copies."""
    r = _rng(seed, stream)
    lengths = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), (n, 100)).tolist()
    is_copy = r.random(n) < dup_share
    is_copy[0] = False
    langs_idx = r.choice(len(LANGS), size=n, p=LANG_P)
    append = r.random(n) < 0.5
    pick = r.random(n)
    texts: list[str] = []
    n_tokens = np.empty(n, dtype=np.int64)
    copy_of = np.full(n, -1, dtype=np.int64)
    originals: list[int] = []
    for i in range(n):
        if is_copy[i]:
            src = originals[int(pick[i] * len(originals))]
            copy_of[i] = src
            langs_idx[i] = langs_idx[src]
            texts.append(texts[src] + " dup" if append[i] else texts[src])
            n_tokens[i] = n_tokens[src] + int(append[i])
        else:
            originals.append(i)
            texts.append(" ".join([VOCAB[w] for w in words[i][: lengths[i]]]))
            n_tokens[i] = lengths[i]
    return Corpus(
        ids=np.arange(n, dtype=np.int64),
        texts=texts,
        langs=[LANGS[i] for i in langs_idx],
        n_tokens=n_tokens,
        copy_of=copy_of,
    )


def write_documents(path: str, c: Corpus, rows: np.ndarray | None = None) -> int:
    """Write the ``documents`` schema (doc_id, text, lang, source,
    n_chars) for ``rows`` (default all); returns bytes written."""
    idx = np.arange(len(c.ids)) if rows is None else np.sort(rows)
    texts = [c.texts[i] for i in idx]
    return _write(
        path,
        {
            "doc_id": pa.array(c.ids[idx]),
            "text": texts,
            "lang": [c.langs[i] for i in idx],
            "source": [f"src{i % 20}" for i in idx],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )


@dataclass
class Vectors:
    ids: np.ndarray
    vecs: np.ndarray
    labels: np.ndarray


def make_vectors(seed: int, n: int, dup_share: float) -> Vectors:
    """Unit-norm float32 vectors around 10 label centres; a ``dup_share``
    are near-copies (cosine about 0.99) of an earlier vector."""
    r = _rng(seed, "embeddings")
    centres = r.normal(size=(10, EMB_DIM))
    labels = r.integers(0, 10, n).astype(np.int32)
    v = 0.6 * centres[labels] / np.sqrt(EMB_DIM) + r.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    copy_of = np.full(n, -1, dtype=np.int64)
    is_copy = r.random(n) < dup_share
    is_copy[0] = False
    pick = r.integers(0, n, n)
    noise = r.normal(size=(n, EMB_DIM)) * 0.1 / np.sqrt(EMB_DIM)
    for i in np.nonzero(is_copy)[0]:
        src = int(pick[i] % i)
        while copy_of[src] >= 0:
            src = int(copy_of[src])
        v[i] = v[src] + noise[i]
        labels[i] = labels[src]
        copy_of[i] = src
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return Vectors(np.arange(n, dtype=np.int64), v, labels)


def write_vectors(path: str, vs: Vectors, rows: np.ndarray | None = None) -> int:
    idx = np.arange(len(vs.ids)) if rows is None else np.sort(rows)
    flat = pa.array(vs.vecs[idx].reshape(-1))
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(idx) * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
    )
    return _write(
        path,
        {
            "vec_id": pa.array(vs.ids[idx]),
            "embedding": emb,
            "label": pa.array(vs.labels[idx]),
        },
    )


# ---------------------------------------------------------------------------
# workload inputs
# ---------------------------------------------------------------------------

BATCH_JOBS = (
    "sql_filter",
    "sql_join",
    "wordcount",
    "filter_group_pct",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "topk_customers",
    "window_running",
    "events_windowed",
    "sales_rollup",
    "pretraining_manifest",
)


@dataclass
class BatchInputs:
    data_dir: str
    corpus_dir: str
    corpus: Corpus
    orders_txt: str
    docs_txt: str
    #: regex digits of the SQL filter, e.g. ``"47"``
    regex_digits: str
    regex_segment: str
    group_priority: str
    #: job order, one permutation of BATCH_JOBS per cycle
    orders: list[list[str]]


def batch_inputs(root: str, seed: int, scale: float, corpus_docs: int, cycles: int = 16) -> BatchInputs:
    """Inputs of ``batch_jobs``: the star schema at ``scale``, the raw
    text files ``put`` loads and the ``corpus_docs``-document pipeline
    corpus."""
    data_dir = os.path.join(root, "tables")
    write_star(data_dir, seed, scale)
    docs = make_corpus(seed, max(200, int(50_000 * scale)), INDEX_DUP_SHARE, stream="documents")
    write_documents(os.path.join(data_dir, "documents.parquet"), docs)
    docs_txt = write_lines(data_dir, "doc_lines", docs.texts)

    corpus_dir = os.path.join(root, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    corpus = make_corpus(seed, corpus_docs, NEAR_DUP_SHARE)
    write_documents(os.path.join(corpus_dir, "documents.parquet"), corpus)

    r = _rng(seed, "batch")
    return BatchInputs(
        data_dir=data_dir,
        corpus_dir=corpus_dir,
        corpus=corpus,
        orders_txt=os.path.join(data_dir, "orders_lines.txt"),
        docs_txt=docs_txt,
        regex_digits=f"{r.integers(0, 100):02d}",
        regex_segment=SEGMENTS[r.integers(0, len(SEGMENTS))],
        group_priority=PRIORITIES[r.integers(0, len(PRIORITIES))],
        orders=[list(r.permutation(BATCH_JOBS)) for _ in range(cycles)],
    )


@dataclass
class ServeInputs:
    data_dir: str
    docs: Corpus
    #: ids indexed at build time
    base_doc_ids: np.ndarray
    base_vec_ids: np.ndarray
    #: ingest batches in order: (doc ids, vec ids, parquet table names)
    batches: list[tuple[np.ndarray, np.ndarray, str, str]]
    base_bytes: int
    batch_bytes: list[int]
    #: read requests: ("search_ids", [ids]) | ("search", [(qid, [terms])])
    reads: list[tuple[str, object]]


def serve_inputs(root: str, seed: int, scale: float, n_batches: int = 8, n_reads: int = 96) -> ServeInputs:
    """Inputs of ``ingest_serve``: sf-sized ``documents`` and
    ``embeddings``; a seeded half indexed at build time, the rest cut
    into ingest batches in seeded order; a seeded read-request stream."""
    data_dir = os.path.join(root, "serve")
    os.makedirs(data_dir, exist_ok=True)
    n_docs = max(200, int(50_000 * scale))
    n_vecs = max(80, int(20_000 * scale))
    docs = make_corpus(seed, n_docs, INDEX_DUP_SHARE, stream="documents")
    vectors = make_vectors(seed, n_vecs, INDEX_DUP_SHARE)
    write_documents(os.path.join(data_dir, "documents.parquet"), docs)
    write_vectors(os.path.join(data_dir, "embeddings.parquet"), vectors)

    r = _rng(seed, "serve")
    dperm, vperm = r.permutation(n_docs), r.permutation(n_vecs)
    base_d, rest_d = dperm[: n_docs // 2], dperm[n_docs // 2 :]
    base_v, rest_v = vperm[: n_vecs // 2], vperm[n_vecs // 2 :]
    base_bytes = write_documents(os.path.join(data_dir, "docs_base.parquet"), docs, base_d)
    base_bytes += write_vectors(os.path.join(data_dir, "emb_base.parquet"), vectors, base_v)
    batches, batch_bytes = [], []
    for b, (bd, bv) in enumerate(
        zip(np.array_split(rest_d, n_batches), np.array_split(rest_v, n_batches))
    ):
        dn, vn = f"docs_batch{b}", f"emb_batch{b}"
        nbytes = write_documents(os.path.join(data_dir, f"{dn}.parquet"), docs, bd)
        nbytes += write_vectors(os.path.join(data_dir, f"{vn}.parquet"), vectors, bv)
        batches.append((np.sort(bd), np.sort(bv), dn, vn))
        batch_bytes.append(nbytes)

    reads: list[tuple[str, object]] = []
    for _ in range(n_reads // 2):
        pair = [
            ("search_ids", sorted(int(x) for x in r.choice(base_v, 5, replace=False))),
            ("search", [
                (q + 1, sorted(set(r.choice(VOCAB, int(r.integers(1, 4))).tolist())))
                for q in range(3)
            ]),
        ]
        # an equal mix in every pair of reads, in seeded order
        reads.extend(pair[j] for j in r.permutation(2))
    return ServeInputs(
        data_dir=data_dir,
        docs=docs,
        base_doc_ids=np.sort(base_d),
        base_vec_ids=np.sort(base_v),
        batches=batches,
        base_bytes=base_bytes,
        batch_bytes=batch_bytes,
        reads=reads,
    )
