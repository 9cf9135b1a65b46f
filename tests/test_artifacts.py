"""Unit tests for the shared artifact contract (nabatshy_spark.artifacts):
key and root derivation, _SUCCESS gating, build-once semantics,
BUILD_TIMES observability, staging/TTL GC, and the ownership guard."""

import os
import time

import pytest

from nabatshy_spark import artifacts


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    return tmp_path


def _write_artifact(staging: str, payload: str = "data") -> None:
    os.makedirs(staging)
    with open(os.path.join(staging, "part-0"), "w") as f:
        f.write(payload)
    open(os.path.join(staging, "_SUCCESS"), "w").close()


def _ensure(name: str, build, family: str = "fam") -> str:
    return artifacts.ensure(family, [], 1, {"name": name}, build)


def test_ensure_builds_once_and_records_build_time(root):
    calls = []

    def build(staging):
        calls.append(staging)
        _write_artifact(staging)

    artifacts.BUILD_TIMES.clear()
    p1 = _ensure("k1", build)
    p2 = _ensure("k1", build)
    assert p1 == p2 and len(calls) == 1
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))
    assert os.path.dirname(p1) == str(root / "fam")
    key = f"fam/{os.path.basename(p1)}"
    assert key in artifacts.BUILD_TIMES
    assert artifacts.BUILD_TIMES[key] >= 0.0


def test_ensure_rejects_build_without_success_marker(root):
    def bad_build(staging):
        os.makedirs(staging)
        with open(os.path.join(staging, "part-0"), "w") as f:
            f.write("incomplete")

    with pytest.raises(RuntimeError, match="_SUCCESS"):
        _ensure("bad", bad_build)
    # nothing published, staging cleaned up
    assert list((root / "fam").iterdir()) == []


def test_stale_partial_dir_is_quarantined_and_replaced(root):
    # a crashed run left a partial (no _SUCCESS) dir at the key
    stale = root / "fam" / artifacts._key([], 1, {"name": "k2"})
    stale.mkdir(parents=True)
    (stale / "part-corrupt").write_text("junk")
    p = _ensure("k2", lambda s: _write_artifact(s, "good"))
    assert p == str(stale)
    assert open(os.path.join(p, "part-0")).read() == "good"
    assert not (stale / "part-corrupt").exists()
    leftovers = [
        e.name
        for e in (root / "fam").iterdir()
        if ".staging-" in e.name or ".quarantine-" in e.name
    ]
    assert leftovers == []


def test_sweep_removes_old_staging_and_expired_artifacts(root):
    fam = root / "fam"
    fam.mkdir()
    old_staging = fam / "dead.staging-999-abc"
    old_staging.mkdir()
    expired = fam / "old_artifact"
    _write_artifact(str(expired))
    fresh = fam / "fresh_artifact"
    _write_artifact(str(fresh))
    past = time.time() - 10 * 86400
    os.utime(old_staging, (past, past))
    os.utime(expired, (past, past))
    _ensure("k3", lambda s: _write_artifact(s))
    assert not old_staging.exists()
    assert not expired.exists()  # TTL'd out (untouched for 10 days)
    assert fresh.exists()  # recent artifacts survive the sweep


def test_cache_hit_touches_mtime_for_ttl(root):
    p = _ensure("k4", lambda s: _write_artifact(s))
    past = time.time() - 5 * 86400
    os.utime(p, (past, past))
    _ensure("k4", lambda s: _write_artifact(s))
    # the hit refreshed the LRU marker: TTL is time-since-last-READ
    assert time.time() - os.path.getmtime(p) < 60


def test_default_root_is_per_user(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR", raising=False)
    assert f"nabatshy_artifacts_{os.getuid()}" in artifacts.artifact_root()
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", "/some/run/dir")
    assert artifacts.artifact_root() == "/some/run/dir"


def test_env_var_override_beats_shared_root(tmp_path, monkeypatch):
    """$SPARK_GRAFT_ARTIFACT_DIR, the one location setting, replaces the
    per-user default root; the family segment stays in the path."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "via_env"))
    p = _ensure("k5", lambda s: _write_artifact(s))
    assert p.startswith(str(tmp_path / "via_env" / "fam") + os.sep)


def test_ownership_guard_refuses_foreign_dir(tmp_path, monkeypatch):
    """A root owned by another uid must be refused, not trusted."""
    real_stat = os.stat

    class FakeStat:
        def __init__(self, st):
            self._st = st
            self.st_uid = os.getuid() + 1

        def __getattr__(self, name):
            return getattr(self._st, name)

    def fake_stat(p, *a, **k):
        st = real_stat(p, *a, **k)
        if str(p) == str(tmp_path / "foreign"):
            return FakeStat(st)
        return st

    (tmp_path / "foreign").mkdir()
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "foreign"))
    monkeypatch.setattr(os, "stat", fake_stat)
    with pytest.raises(RuntimeError, match="owned by uid"):
        _ensure("k6", lambda s: _write_artifact(s))


def test_source_fingerprint_tracks_content(tmp_path):
    f = tmp_path / "src.parquet"
    f.write_text("v1")
    fp1 = artifacts.source_fingerprint(str(f))
    assert fp1 == artifacts.source_fingerprint(str(f))
    time.sleep(0.01)
    f.write_text("v2+")
    assert artifacts.source_fingerprint(str(f)) != fp1


# ---------------------------------------------------------------------------
# artifact identity: every producer input that can change the output
# reaches the path
# ---------------------------------------------------------------------------


def test_source_rewrite_and_version_bump_change_the_path(root):
    src = root / "src.parquet"
    src.write_text("v1")
    build = lambda s: _write_artifact(s)  # noqa: E731
    p1 = artifacts.ensure("fam", str(src), 1, {"t": 0.5}, build)
    assert artifacts.ensure("fam", str(src), 1, {"t": 0.5}, build) == p1
    assert artifacts.ensure("fam", str(src), 2, {"t": 0.5}, build) != p1
    time.sleep(0.01)
    src.write_text("v2+")
    assert artifacts.ensure("fam", str(src), 1, {"t": 0.5}, build) != p1


def test_families_with_identical_parameters_never_share_a_path(root):
    build = lambda s: _write_artifact(s)  # noqa: E731
    a = artifacts.ensure("fam_a", [], 1, {"n": 3}, build)
    b = artifacts.ensure("fam_b", [], 1, {"n": 3}, build)
    assert a != b
    assert os.path.dirname(a) == str(root / "fam_a")
    assert os.path.dirname(b) == str(root / "fam_b")


def test_thresholds_equal_to_six_digits_get_distinct_paths(
    spark, sf_dir, root
):
    """A ``%g``-formatted key maps both thresholds to "0.9" and serves
    one's pairs to the other's consumers; the derived key keeps every
    digit."""
    from nabatshy_spark.operators import dedup

    dedup.shared_ngram_pairs(spark, sf_dir, threshold=0.9000001).count()
    dedup.shared_ngram_pairs(spark, sf_dir, threshold=0.9000004).count()
    published = [
        p for p in (root / "ngram_pairs").iterdir() if ".staging-" not in p.name
    ]
    assert len(published) == 2


def _recording_ensure(monkeypatch):
    """Replace artifacts.ensure with one that derives the real path but
    builds nothing — for producers that return the path unread."""
    paths = []

    def fake(family, sources, version, params, build):
        paths.append(
            os.path.join(
                artifacts.artifact_root(),
                family,
                artifacts._key(sources, version, params),
            )
        )
        return paths[-1]

    monkeypatch.setattr(artifacts, "ensure", fake)
    return paths


def test_zorder_num_files_changes_the_path(sf_dir, root, monkeypatch):
    from nabatshy_spark.sources import zorder

    paths = _recording_ensure(monkeypatch)
    for num_files in (2, 3, 2):
        zorder.ensure_zordered(
            None, sf_dir, "events", ["user_id", "value"], num_files=num_files
        )
    assert paths[0] != paths[1] and paths[0] == paths[2]


def test_ivf_vec_col_changes_the_path(sf_dir, root, monkeypatch):
    from nabatshy_spark.operators import ivf

    paths = _recording_ensure(monkeypatch)
    src = os.path.join(sf_dir, "embeddings.parquet")
    ivf.ensure_ivf(None, src, vec_col="embedding")
    ivf.ensure_ivf(None, src, vec_col="embedding_b")
    ivf.ensure_ivfpq(None, src, vec_col="embedding")
    ivf.ensure_ivfpq(None, src, vec_col="embedding_b")
    assert paths[0] != paths[1] and paths[2] != paths[3]


def test_bucketing_keys_change_the_layout(spark, sf_dir, root):
    from nabatshy_spark.sources import bucketed

    by_nation = bucketed.ensure_bucketed(spark, sf_dir, "nation", ["n_nationkey"], 4)
    by_region = bucketed.ensure_bucketed(spark, sf_dir, "nation", ["n_regionkey"], 4)
    try:
        assert by_nation != by_region
        assert len(list((root / "bucketed").iterdir())) == 2
    finally:
        for t in (by_nation, by_region):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")
