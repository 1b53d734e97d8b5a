import numpy as np
import pyarrow.parquet as pq

import gen as G


def _inputs(seed, tmp_path):
    g = G.Gen(seed)
    rng = g.rng("corpus")
    docs = G.docs_table(rng, np.arange(300))
    vecs = G.vectors(rng, G.centres(g), 120)
    path = tmp_path / f"docs-{seed}.parquet"
    pq.write_table(docs, str(path))
    q = g.rng("queries")
    queries = G.perturb(q, vecs[:8], 0.05)
    return path.read_bytes(), vecs.tobytes(), queries.tobytes(), G.query_texts(q, 8)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _inputs(7, tmp_path / "a") == _inputs(7, tmp_path / "b")


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _inputs(7, tmp_path), _inputs(8, tmp_path)
    assert all(x != y for x, y in zip(a, b))


def test_purpose_streams_are_independent():
    g = G.Gen(3)
    first = g.rng("batch2").random(4)
    g.rng("batch1").random(1000)  # drawing for one purpose ...
    assert (g.rng("batch2").random(4) == first).all()  # ... leaves another alone
    assert (g.rng("batch3").random(4) != first).all()


def test_corpus_shape_matches_the_test_tables():
    g = G.Gen(1)
    rng = g.rng("corpus")
    docs = G.docs_table(rng, np.arange(500))
    lens = [len(t.split()) for t in docs.column("text").to_pylist()]
    assert 10 <= min(lens) and max(lens) <= 99
    assert set(w for t in docs.column("text").to_pylist() for w in t.split()) <= set(G.VOCAB)
    vecs = G.vectors(rng, G.centres(g), 50)
    assert vecs.dtype == np.float32 and vecs.shape == (50, G.DIM)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)
