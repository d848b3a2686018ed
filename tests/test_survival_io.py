"""Survival TSV ingest + clean vs a pandas reference implementing the
reference repo's exact semantics (`scripts/utils.py:26-63`)."""

import tempfile

import numpy as np
import pandas as pd
import pytest

from multiomix_aws_emr_spark.sources.survival import (
    clean_wide,
    long_to_wide,
    read_clinical_tsv,
    read_molecules_tsv,
    wide_to_long,
)


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    """molecules.tsv (features x samples, FIXTURES.md §B) with injected NaN
    and ±Inf cells; clinical.tsv with (event, time)."""
    rng = np.random.RandomState(42)
    n_features, n_samples = 12, 8
    features = [f"GENE_{i:04d}" for i in range(n_features)]
    samples = [f"S{i:02d}" for i in range(n_samples)]
    mat = rng.normal(size=(n_features, n_samples)).round(4)
    mat[2, 3] = np.nan  # GENE_0002 must be column-dropped after transpose
    mat[5, 1] = np.inf  # sample S01 must be row-filtered
    mat[7, 6] = -np.inf  # sample S06 must be row-filtered

    mol = pd.DataFrame(mat, index=features, columns=samples)
    mol.index.name = "feature_id"
    d = tmp_path_factory.mktemp("surv")
    mol_path = str(d / "molecules.tsv")
    mol.to_csv(mol_path, sep="\t")

    clin = pd.DataFrame(
        {
            "event": rng.randint(0, 2, n_samples),
            "time": rng.uniform(1, 100, n_samples).round(2),
        },
        index=pd.Index(samples, name="sample_id"),
    )
    clin_path = str(d / "clinical.tsv")
    clin.to_csv(clin_path, sep="\t")
    return mol_path, clin_path, mol, clin


def _pandas_reference_clean(mol: pd.DataFrame) -> pd.DataFrame:
    """The reference's load+clean pipeline verbatim in pandas semantics:
    transpose (utils.py:53), dropna(axis='columns') (:33), drop ±inf rows
    (:34), astype(float64) (:35)."""
    df = mol.transpose()
    df = df.dropna(axis="columns")
    df = df[~df.isin([np.inf, -np.inf]).any(axis="columns")]
    return df.astype(np.float64)


def test_molecules_roundtrip_and_clean(spark, fixtures):
    mol_path, _, mol, _ = fixtures
    raw = read_molecules_tsv(spark, mol_path)
    # the file's transpose: samples x features, in file order
    assert list(raw.index) == list(mol.columns)
    assert list(raw.columns) == list(mol.index)

    cleaned = clean_wide(raw).sort_index()
    cleaned = cleaned[sorted(cleaned.columns)]

    expected = _pandas_reference_clean(mol).sort_index()
    expected = expected[sorted(expected.columns)]
    assert list(cleaned.columns) == list(expected.columns)
    assert "GENE_0002" not in cleaned.columns  # NaN column dropped
    assert "S01" not in cleaned.index and "S06" not in cleaned.index
    pd.testing.assert_frame_equal(
        cleaned, expected, check_names=False, check_exact=False, rtol=1e-9
    )


def test_wide_long_roundtrip_lossless(spark, fixtures):
    mol_path, _, _, _ = fixtures
    cleaned = clean_wide(read_molecules_tsv(spark, mol_path))
    long = spark.createDataFrame(
        cleaned.rename_axis(index="sample_id", columns="feature")
        .stack()
        .rename("value")
        .reset_index()
    )
    wide = long_to_wide(long)
    # melt -> pivot -> melt -> pivot must be stable
    again = long_to_wide(wide_to_long(wide))
    a = wide.toPandas().set_index("sample_id").sort_index()
    b = again.toPandas().set_index("sample_id").sort_index()
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_clinical_reader(spark, fixtures):
    _, clin_path, _, clin = fixtures
    out = read_clinical_tsv(spark, clin_path)
    assert out["event"].dtype == bool
    assert out["time"].dtype == np.float64
    assert (out.sort_index()["time"] == clin.sort_index()["time"]).all()


def _write_molecules(path, mat, features, samples):
    mol = pd.DataFrame(mat, index=features, columns=samples)
    mol.index.name = "feature_id"
    mol.to_csv(path, sep="\t")
    return mol


def test_wide_input_at_paper_shape(spark, tmp_path):
    """More features than `spark.sql.pivotMaxValues` (10,000), stored in
    shuffled order: R3 drops the NaN column, R4 drops the row with an Inf
    in a kept column and keeps the row whose only Inf sits in the dropped
    column, and the columns come back in sorted feature-id order."""
    rng = np.random.RandomState(3)
    n_features, n_samples = 10_050, 20
    features = [f"GENE_{i:05d}" for i in range(n_features)]
    samples = [f"S{i:02d}" for i in range(n_samples)]
    mat = rng.normal(size=(n_features, n_samples)).round(4)
    mat[9_000, 4] = np.nan  # GENE_09000 dropped
    mat[10_049, 11] = np.inf  # S11 dropped
    mat[9_000, 15] = -np.inf  # S15 kept: its Inf is in GENE_09000
    order = rng.permutation(n_features)
    path = str(tmp_path / "wide.tsv")
    mol = _write_molecules(path, mat[order], np.array(features)[order], samples)

    cleaned = clean_wide(read_molecules_tsv(spark, path))
    assert "GENE_09000" not in cleaned.columns
    assert "S11" not in cleaned.index and "S15" in cleaned.index
    assert list(cleaned.columns) == [f for f in features if f != "GENE_09000"]
    expected = _pandas_reference_clean(mol)
    pd.testing.assert_frame_equal(
        cleaned.sort_index(), expected[sorted(expected.columns)].sort_index(),
        check_names=False, check_exact=False, rtol=1e-9,
    )


def test_ingest_job_count_does_not_grow_with_width(spark, fixtures, tmp_path):
    _, clin_path, _, clin = fixtures
    rng = np.random.RandomState(5)
    samples = list(clin.index)
    counts = []
    for n_features in (120, 10_050):
        features = [f"GENE_{i:05d}" for i in range(n_features)]
        path = str(tmp_path / f"mol{n_features}.tsv")
        _write_molecules(
            path, rng.normal(size=(n_features, len(samples))), features, samples
        )
        group = f"ingest-{n_features}"
        sc = spark.sparkContext
        sc.setJobGroup(group, "survival ingest")
        try:
            clean_wide(read_molecules_tsv(spark, path))
            read_clinical_tsv(spark, clin_path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts == [0, 0], counts  # the driver reads through Hadoop's FS


def test_duplicate_feature_ids_rejected(spark, tmp_path):
    features = ["GENE_A", "GENE_B", "GENE_A", "GENE_C", "GENE_C"]
    path = str(tmp_path / "dup.tsv")
    _write_molecules(path, np.ones((5, 3)), features, ["S0", "S1", "S2"])
    with pytest.raises(ValueError, match=r"duplicate feature ids \['GENE_A', 'GENE_C'\]"):
        read_molecules_tsv(spark, path)


def test_ids_stay_verbatim_strings(spark, tmp_path):
    """Feature and sample ids that look like numbers or NA stay the
    file's strings in both files."""
    ids = ["0012", "7157", "NA"]
    mol_path = str(tmp_path / "mol.tsv")
    _write_molecules(mol_path, np.arange(9.0).reshape(3, 3), ids, ids)
    x = read_molecules_tsv(spark, mol_path)
    assert list(x.columns) == ids and list(x.index) == ids
    assert x.loc["NA", "0012"] == 2.0
    clin_path = tmp_path / "clin.tsv"
    clin_path.write_text("sample\tevent\ttime\n0012\t1\t1.5\n7157\t0\t2\nNA\t1\t3\n")
    clin = read_clinical_tsv(spark, str(clin_path))
    assert list(clin.index) == ids and clin.index.name == "sample_id"
    assert clin.loc["NA", "time"] == 3.0


def test_value_cell_spellings_and_exact_parse(spark, tmp_path):
    """``inf``/``-inf``/``NaN`` read as such, an empty cell is NaN, and a
    17-digit value reads back as the exact double it was written from."""
    path = tmp_path / "cells.tsv"
    path.write_text("feature\tS0\nA\tinf\nB\t-inf\nC\tNaN\nD\t\n")
    x = read_molecules_tsv(spark, str(path))
    assert x.loc["S0", "A"] == np.inf and x.loc["S0", "B"] == -np.inf
    assert x.loc["S0", ["C", "D"]].isna().all()
    mat = np.random.RandomState(9).normal(size=(50, 4))
    full = str(tmp_path / "full.tsv")
    _write_molecules(full, mat, [f"F{i}" for i in range(50)], ["a", "b", "c", "d"])
    assert (read_molecules_tsv(spark, full).to_numpy() == mat.T).all()


def test_gzip_molecules_read_like_plain(spark, fixtures, tmp_path):
    mol_path, _, mol, _ = fixtures
    gz = str(tmp_path / "molecules.tsv.gz")
    mol.to_csv(gz, sep="\t")  # gzip, from the suffix
    pd.testing.assert_frame_equal(
        read_molecules_tsv(spark, gz), read_molecules_tsv(spark, mol_path)
    )


def test_path_must_match_one_file(spark, fixtures, tmp_path):
    mol_path, clin_path, _, _ = fixtures
    both = tmp_path / "both"
    both.mkdir()
    for name, src in (("a.tsv", mol_path), ("b.tsv", clin_path)):
        (both / name).write_bytes(open(src, "rb").read())
    for reader in (read_molecules_tsv, read_clinical_tsv):
        with pytest.raises(ValueError, match="expected exactly one file, matched 2"):
            reader(spark, str(both))


def test_path_forms_read_like_the_plain_path(spark, fixtures, tmp_path):
    """A ``file://`` URI, a glob matching one file and a directory holding
    one data file beside Spark's hidden ``_SUCCESS`` and ``.crc`` files
    all read that file."""
    mol_path, _, _, _ = fixtures
    plain = read_molecules_tsv(spark, mol_path)
    part = tmp_path / "part"
    part.mkdir()
    (part / "part-00000.tsv").write_bytes(open(mol_path, "rb").read())
    (part / "_SUCCESS").write_text("")
    (part / ".part-00000.tsv.crc").write_bytes(b"crc")
    for form in (f"file://{mol_path}", mol_path[:-3] + "t?v", str(part)):
        pd.testing.assert_frame_equal(read_molecules_tsv(spark, form), plain)


def test_missing_path_matches_no_file(spark, tmp_path):
    for reader in (read_molecules_tsv, read_clinical_tsv):
        with pytest.raises(ValueError, match="expected exactly one file, matched 0"):
            reader(spark, str(tmp_path / "absent.tsv"))


def test_local_copy_is_removed(spark, fixtures, tmp_path, monkeypatch):
    """The driver-side copy is gone after a good read and after reads that
    raise: a non-boolean ``event``, and a non-number ``time`` that fails
    inside ``pd.read_csv`` while the copy is open."""
    _, clin_path, _, _ = fixtures
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    read_clinical_tsv(spark, clin_path)
    assert list(scratch.iterdir()) == []
    for row, error in (("maybe\t1", "are not booleans"), ("1\tsoon", "soon")):
        bad = tmp_path / "bad.tsv"
        bad.write_text(f"sample\tevent\ttime\nS0\t{row}\n")
        with pytest.raises(ValueError, match=error):
            read_clinical_tsv(spark, str(bad))
        assert list(scratch.iterdir()) == []


@pytest.mark.parametrize("spelled", [("1", "0"), ("true", "false"), ("TRUE", "False")])
def test_clinical_event_spellings(spark, tmp_path, spelled):
    yes, no = spelled
    path = tmp_path / "clin.tsv"
    path.write_text(f"sample\tevent\ttime\nS0\t{yes}\t1\nS1\t{no}\t2\n")
    clin = read_clinical_tsv(spark, str(path))
    assert clin["event"].dtype == bool
    assert clin["event"].tolist() == [True, False]


def test_clinical_event_must_be_boolean(spark, tmp_path):
    path = tmp_path / "clin.tsv"
    path.write_text("sample\tevent\ttime\nS0\t1\t1\nS1\t2\t2\nS2\t\t3\n")
    with pytest.raises(ValueError, match=r"event values \['', '2'\]"):
        read_clinical_tsv(spark, str(path))
