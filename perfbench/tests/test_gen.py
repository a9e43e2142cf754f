"""Seeded input generation: the same seed gives identical inputs."""

import hashlib
import os

from perfbench import gen


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_batch_inputs_are_deterministic(tmp_path):
    a = gen.batch_inputs(str(tmp_path / "a"), 7, 0.001, corpus_docs=600)
    b = gen.batch_inputs(str(tmp_path / "b"), 7, 0.001, corpus_docs=600)
    c = gen.batch_inputs(str(tmp_path / "c"), 8, 0.001, corpus_docs=600)
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")
    assert (a.regex_digits, a.regex_segment, a.group_priority, a.orders) == (
        b.regex_digits, b.regex_segment, b.group_priority, b.orders
    )
    assert sorted(a.orders[0]) == sorted(gen.BATCH_JOBS)


def test_serve_inputs_are_deterministic(tmp_path):
    a = gen.serve_inputs(str(tmp_path / "a"), 3, 0.001)
    b = gen.serve_inputs(str(tmp_path / "b"), 3, 0.001)
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert a.reads == b.reads
    assert [x[2:] for x in a.batches] == [x[2:] for x in b.batches]
    # every pair of reads is an equal mix of the two kinds
    for g in range(0, len(a.reads) - 1, 2):
        assert sorted(k for k, _ in a.reads[g:g + 2]) == ["search", "search_ids"]
    # the base half and the ingest batches partition the corpus
    ids = list(a.base_doc_ids) + [i for bd, _, _, _ in a.batches for i in bd]
    assert sorted(ids) == list(range(len(a.docs.ids)))


def test_corpus_near_duplicate_share():
    c = gen.make_corpus(11, 5000, 0.30)
    share = (c.copy_of >= 0).mean()
    assert 0.27 < share < 0.33
    for i in range(len(c.ids)):
        src = c.copy_of[i]
        if src >= 0:
            assert c.copy_of[src] == -1
            assert c.texts[i] in (c.texts[src], c.texts[src] + " dup")
            assert c.langs[i] == c.langs[src]
    assert all(10 <= n <= 101 for n in c.n_tokens)
