"""The Bm25Stats.score scalar fast path (1-element arrays) must be
bit-identical to the vectorized score_tf path: same float32 ops, same
order, only less numpy dispatch."""

import numpy as np

from lucene_solr_old_spark.functions.bm25 import Bm25Stats, score_tf


def test_scalar_fast_path_bit_exact():
    s = Bm25Stats(300000, 10243955)
    rng = np.random.RandomState(7)
    for _ in range(5000):
        df = int(rng.randint(1, 300000))
        tf = int(rng.randint(1, 500))
        nb = int(rng.randint(0, 256))
        fast = s.score(df, np.array([tf]), np.array([nb]))
        slow = score_tf(s.weight_value(df, 1.0), np.asarray([tf]),
                        s.cache[np.asarray([nb], dtype=np.int64) & 0xFF])
        assert fast.dtype == np.float32 and fast.shape == (1,)
        assert fast.tobytes() == slow.tobytes(), (df, tf, nb)


def test_scalar_fast_path_norm_byte_scalar_and_boost():
    s = Bm25Stats(1000, 50000, k1=1.5, b=0.4)
    for nbv in (0, 1, 127, 255):
        for boost in (1.0, 2.5):
            fast = s.score(10, np.array([4]), np.array([nbv]), boost=boost)
            slow = score_tf(s.weight_value(10, boost), np.asarray([4]),
                            s.cache[np.asarray([nbv], dtype=np.int64) & 0xFF])
            assert fast.tobytes() == slow.tobytes()


def test_vectorized_path_unchanged_for_batches():
    s = Bm25Stats(5000, 90000)
    tf = np.array([1, 2, 3, 9])
    nb = np.array([3, 200, 118, 255])
    out = s.score(42, tf, nb)
    ref = score_tf(s.weight_value(42, 1.0), tf,
                   s.cache[nb.astype(np.int64) & 0xFF])
    assert out.tobytes() == ref.tobytes()


def test_single_freq_broadcasts_over_norm_bytes():
    """A 1-element freq against n norm bytes is not the scalar case: it
    broadcasts to n scores, exactly like score_tf."""
    s = Bm25Stats(5000, 90000)
    nb = np.array([3, 200, 118, 255])
    out = s.score(42, np.array([7]), nb)
    ref = score_tf(s.weight_value(42, 1.0), np.array([7]),
                   s.cache[nb.astype(np.int64) & 0xFF])
    assert out.shape == (4,)
    assert out.tobytes() == ref.tobytes()
