"""Each oracle fires on a deliberately corrupted output. No Spark: the
inputs are generated tables and hand-made result rows."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import datagen
import oracles


@pytest.fixture(scope="module")
def transcripts(tmp_path_factory):
    d = tmp_path_factory.mktemp("tx")
    datagen.write_transcripts(str(d / "t"), seed=5, n_convs=3000, n_files=2)
    return str(d / "t")


def test_transcript_twin_sees_every_injected_kind(transcripts):
    counts = oracles.transcript_counts(os.path.join(transcripts, "*.parquet"))
    for check in ("enum:role", "unique_key:conv_id,turn_idx", "contiguous:turn_idx", "monotonic:ts"):
        assert counts.get(check, 0) > 0, check
    assert oracles.compare_counts(counts, counts, "same") == []


def test_transcript_twin_fires_on_corrupted_counts(transcripts):
    want = oracles.transcript_counts(os.path.join(transcripts, "*.parquet"))
    got = dict(want)
    got["enum:role"] += 1
    assert oracles.compare_counts(got, want, "u0")
    got = {k: v for k, v in want.items() if k != "monotonic:ts"}
    assert oracles.compare_counts(got, want, "u0")


def test_transcript_twin_follows_the_data(transcripts, tmp_path):
    """A table with one more bad role gives one more enum:role
    violation, so a result computed on stale or partial input fails."""
    files = sorted(os.listdir(transcripts))
    t = pq.read_table(os.path.join(transcripts, files[0]))
    role = t.column("role").to_pylist()
    i = role.index("user")
    role[i] = "robot"
    t = t.set_column(t.schema.get_field_index("role"), "role", pa.array(role))
    pq.write_table(t, tmp_path / "part-0.parquet")
    pq.write_table(pq.read_table(os.path.join(transcripts, files[1])), tmp_path / "part-1.parquet")
    before = oracles.transcript_counts(os.path.join(transcripts, "*.parquet"))
    after = oracles.transcript_counts(str(tmp_path / "*.parquet"))
    assert after["enum:role"] == before["enum:role"] + 1
    assert oracles.compare_counts(before, after, "stale")


def test_violation_files_oracle_fires_on_missing_rows(tmp_path):
    rows = pa.table({"check": ["enum:role", "enum:role", "monotonic:ts"]})
    pq.write_table(rows, tmp_path / "part-0.parquet")
    want = {"enum:role": 2, "monotonic:ts": 1}
    assert oracles.violation_file_counts(str(tmp_path)) == want
    pq.write_table(rows.filter(pc.equal(rows["check"], "enum:role")), tmp_path / "part-0.parquet")
    got = oracles.violation_file_counts(str(tmp_path))
    assert oracles.compare_counts(got, want, "violations/")


def test_row_oracle_fires_on_missing_extra_and_changed_rows():
    want = [
        {"l_orderkey": 4, "l_linenumber": None, "check_name": "fd", "value": "2"},
        {"l_orderkey": 8, "l_linenumber": None, "check_name": "fd", "value": "3"},
    ]
    assert oracles.compare_rows(list(reversed(want)), want, "fd") == []
    assert oracles.compare_rows(want[:1], want, "fd")
    assert oracles.compare_rows(want + want[:1], want, "fd")
    changed = [dict(want[0], value="9"), want[1]]
    assert oracles.compare_rows(changed, want, "fd")


def test_pair_oracle_fires_on_pair_set_changes_and_on_empty_sets():
    want = [{"id_a": 1, "id_b": 2, "est_jaccard": 0.9}, {"id_a": 3, "id_b": 7, "est_jaccard": 0.8}]
    # the estimate differs between hash families; only the pair set counts
    got = [{"id_a": 1, "id_b": 2, "est_jaccard": 0.85}, {"id_a": 3, "id_b": 7, "est_jaccard": 0.8}]
    assert oracles.compare_pairs(got, want, "minhash") == []
    assert oracles.compare_pairs(got[:1], want, "minhash")
    assert oracles.compare_pairs(got + [{"id_a": 5, "id_b": 6}], want, "minhash")
    assert oracles.compare_pairs([], [], "minhash"), "an empty pair set proves nothing"


def test_sf_oracles_run_on_generated_tables(tmp_path):
    datagen.write_sf(str(tmp_path / "sf"), seed=3, n_docs=300, n_events=2000, n_orders=500)
    sf = str(tmp_path / "sf")
    pairs = oracles.sf_oracle_rows(sf, "minhash_lsh_md5_documents")
    assert pairs, "planted near-copies must give MinHash pairs"
    drift = oracles.sf_oracle_rows(sf, "drift_suite_events")
    assert sorted(r["check"] for r in drift) == ["chi2_drift:event_type->type_hist",
                                                 "ks_drift:value->value_ref"]
    fd = oracles.sf_oracle_rows(sf, "functional_dependency_lineitem")
    assert fd and oracles.compare_rows(fd[1:], fd, "fd")
