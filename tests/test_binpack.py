import numpy as np

from multiomix_aws_emr_spark.fs.bbha import sequential_bins


def _bins(n, n_bins):
    return [b.tolist() for b in sequential_bins(n, n_bins)]


def test_sequential_partitioner():
    # key * W // N (metaheuristics.py:290)
    assert _bins(4, 2) == [[0, 1], [2, 3]]
    assert _bins(0, 3) == []
    ten = sequential_bins(10, 3)
    assert len(ten) == 3
    assert np.concatenate(ten).tolist() == list(range(10))
    assert _bins(9, 4) == [
        [s for s in range(9) if s * 4 // 9 == b] for b in range(4)
    ]
    # fewer items than bins: one bin per item, no empty bin
    assert _bins(3, 4) == [[0], [1], [2]]
