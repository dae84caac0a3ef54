"""The deployable 100 TB conf profile (r13, stretch item 7).

conf/spark-cluster-profile.conf turns SCALE.md's deployment
recommendations into a runnable artifact: loadable natively by
``spark-submit --properties-file`` and overlaid by
``get_spark(profile=...)`` / ``SPARK_GRAFT_PROFILE``. These tests keep
it well-formed and keep the overlay path honest. The last two tests
cover ``scoped_conf``, the session's one conf set-and-restore, and
``worker_zip_guard``, the zip re-read guard shipped to Python workers.
"""

from __future__ import annotations

import contextlib
import os

import pytest

from wiki_data_pipeline_spark.session import (
    get_spark,
    load_profile,
    scoped_conf,
    worker_zip_guard,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROFILE = os.path.join(REPO, "conf", "spark-cluster-profile.conf")


def test_checked_in_profile_parses_and_covers_the_design_claims():
    conf = load_profile(PROFILE)
    assert len(conf) >= 15
    # the knobs SCALE.md's scale story actually depends on
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert int(conf["spark.sql.autoBroadcastJoinThreshold"]) >= 64 * 1024**2
    assert conf["spark.sql.files.maxPartitionBytes"].endswith("m")
    assert conf["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    # the pin tier keys are the REAL ones from operators/pin.py — a
    # rename there must break this, not silently orphan the profile
    from wiki_data_pipeline_spark.operators.pin import (
        PIN_DIR_KEY,
        PIN_MODE_KEY,
    )

    assert conf[PIN_MODE_KEY] == "reliable"
    # the reliable tier's whole point is surviving executor loss, so
    # the checkpoint dir must be a scheme-qualified SHARED filesystem
    # (r14, ADVICE): a node-local path would park reliable checkpoints
    # on per-node disks — unrecoverable after preemption, the exact
    # failure the tier exists to prevent. The checked-in placeholder
    # (hdfs://REPLACE-WITH-YOUR-DFS/...) satisfies the shape and fails
    # loudly at the first pin until replaced.
    pin_dir = conf[PIN_DIR_KEY]
    scheme = pin_dir.split("://", 1)[0] if "://" in pin_dir else ""
    assert scheme and scheme not in ("file", "local"), (
        f"{PIN_DIR_KEY} must be a scheme-qualified shared-DFS URI "
        f"(hdfs://, s3a://, ...), got {pin_dir!r}"
    )


def test_load_profile_accepts_all_properties_separators(tmp_path):
    """java.util.Properties (what spark-submit --properties-file
    uses) accepts space, '=', ':', and tab separators — one profile
    must load identically under both entry points (r13 review fix)."""
    p = tmp_path / "seps.conf"
    p.write_text(
        "spark.a 1\n"
        "spark.b=2\n"
        "spark.c: 3\n"
        "spark.d\t4\n"
        "spark.e = 5\n"
    )
    assert load_profile(str(p)) == {
        "spark.a": "1",
        "spark.b": "2",
        "spark.c": "3",
        "spark.d": "4",
        "spark.e": "5",
    }


def test_load_profile_matches_properties_divergence_semantics(tmp_path):
    """A file that loads fine under spark-submit --properties-file
    must load (not raise) here too (r14, ADVICE): non-spark keys are
    warn-and-skip (spark-submit's "Ignoring non-Spark config
    property"), duplicates are last-wins with a warning
    (java.util.Properties.load overwrites). Only a key with NO value
    — a profile bug Properties would silently admit as "" — still
    raises."""
    mixed = tmp_path / "mixed.conf"
    mixed.write_text("not_a_spark_key true\nspark.a 1\n")
    with pytest.warns(UserWarning, match="non-Spark config"):
        assert load_profile(str(mixed)) == {"spark.a": "1"}
    dup = tmp_path / "dup.conf"
    dup.write_text("spark.a 1\nspark.a 2\n")
    with pytest.warns(UserWarning, match="last value wins"):
        assert load_profile(str(dup)) == {"spark.a": "2"}
    empty_val = tmp_path / "v.conf"
    empty_val.write_text("spark.a\n")
    with pytest.raises(ValueError, match="malformed"):
        load_profile(str(empty_val))


def test_get_spark_honors_profile_overlay(spark, tmp_path):
    """get_spark(profile=...) overlays the file's confs. Asserted with
    engine-namespace (runtime-settable) keys so the check works
    against the already-running test session — getOrCreate applies
    builder options to an existing session's runtime conf."""
    p = tmp_path / "overlay.conf"
    p.write_text(
        "# comment\n"
        "\n"
        "spark.wiki_data_pipeline.profile.marker from_profile\n"
        "spark.wiki_data_pipeline.profile.extra base\n"
    )
    try:
        s = get_spark("profile-test", profile=str(p))
        assert (
            s.conf.get("spark.wiki_data_pipeline.profile.marker")
            == "from_profile"
        )
        # extra_conf wins over the profile (documented overlay order)
        s = get_spark(
            "profile-test",
            profile=str(p),
            extra_conf={"spark.wiki_data_pipeline.profile.extra": "override"},
        )
        assert (
            s.conf.get("spark.wiki_data_pipeline.profile.extra") == "override"
        )
    finally:
        for k in (
            "spark.wiki_data_pipeline.profile.marker",
            "spark.wiki_data_pipeline.profile.extra",
        ):
            spark.conf.unset(k)


def test_bucketed_ddl_script_matches_live_layout():
    """conf/bucketed-layout.sql stays aligned with the programmatic
    fixture layout: same bucket/sort key per table, both tables
    bucketed into the SAME count (the co-partitioning contract the
    map-side merge depends on)."""
    ddl = open(
        os.path.join(REPO, "conf", "bucketed-layout.sql"), encoding="utf-8"
    ).read()
    import re

    buckets = re.findall(
        r"CLUSTERED BY \((\w+)\) SORTED BY \((\w+)\) INTO (\d+) BUCKETS", ddl
    )
    assert len(buckets) == 2
    (k1, s1, n1), (k2, s2, n2) = buckets
    assert (k1, s1) == ("l_orderkey", "l_orderkey")
    assert (k2, s2) == ("o_orderkey", "o_orderkey")
    assert n1 == n2, "fact tables must share one bucket count"


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """A key set before the block gets its old value back, an unset key
    is unset again, and both hold when the block raises."""
    was_set = "spark.wiki_data_pipeline.scoped.was_set"
    was_unset = "spark.wiki_data_pipeline.scoped.was_unset"
    spark.conf.set(was_set, "old")
    try:
        for fail in (False, True):
            with pytest.raises(RuntimeError) if fail else contextlib.nullcontext():
                with scoped_conf(spark, {was_set: "new", was_unset: "new"}):
                    assert spark.conf.get(was_set) == "new"
                    assert spark.conf.get(was_unset) == "new"
                    if fail:
                        raise RuntimeError("block failed")
            assert spark.conf.get(was_set) == "old"
            assert spark.conf.get(was_unset, None) is None
    finally:
        spark.conf.unset(was_set)


def test_worker_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """In this process, no Spark: an archive rewritten with a new module
    is re-read, so the module imports; an unchanged archive is not
    re-read; a stat error falls back to the re-read; and a second
    install leaves exactly one wrapper."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = str(tmp_path / "mods.zip")
    reread = zipimport.zipimporter.invalidate_caches
    calls = []

    def counting(self):
        if self.archive == archive:
            calls.append(self)
        return reread(self)

    # teardown puts the original method back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    install = worker_zip_guard()
    install()
    install()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is counting

    def build(*names):
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\n")

    a, b = "zip_guard_probe_a", "zip_guard_probe_b"
    build(a)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(a).NAME == a
        importlib.invalidate_caches()  # this importer's first key: re-read
        assert len(calls) == 1
        importlib.invalidate_caches()
        assert len(calls) == 1  # unchanged: no re-read
        build(a, b)
        importlib.invalidate_caches()
        assert len(calls) == 2
        assert importlib.import_module(b).NAME == b
        os.remove(archive)
        importlib.invalidate_caches()  # stat fails: plain re-read
        assert len(calls) == 3
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in (a, b):
            sys.modules.pop(name, None)
