"""SparkSession builder.

Locally the session runs on local[N], N = $SPARK_GRAFT_CPUS (32 when
unset), but every setting is chosen to also be the right default on a
large cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching are exactly what keeps the same
  logical plans healthy at 100 TB.
- shuffle.partitions = N locally — on a real cluster this is
  overridden by AQE's coalescing from an intentionally high initial
  number, so plans are written to not depend on the exact value.
- Arrow enabled: every pandas_udf / mapInPandas crossing is
  Arrow-batched, never row-at-a-time pickling.
- Python workers re-read a zip archive only when it changed
  (``worker_zip_guard``). PySpark calls ``importlib.invalidate_caches()``
  before every Python task, and CPython 3.11 then makes each of the
  worker's ``zipimporter``s re-read its archive's whole central
  directory (pyspark.zip: 1,328 entries, 16 importers). Measured on
  4 cores, a reused worker spent 239 ms of CPU per one-row task with
  the re-read and 34 ms without it. The guarded hook stats the archive
  and re-reads only when its mtime, size or inode moved.
"""

from __future__ import annotations

import contextlib
import os
from typing import Iterator

from pyspark.sql import SparkSession


def load_profile(path: str) -> dict[str, str]:
    """Parse a Spark properties file into a conf dict — the format of
    conf/spark-cluster-profile.conf and of ``spark-submit
    --properties-file``, so one profile serves both entry points.
    Java's Properties accepts ``key value``, ``key=value``,
    ``key: value``, and tab separators; all four load identically
    here (r13 review fix — the first cut split on a single space
    only, so an ``=``-separated file loaded under spark-submit but
    raised here, breaking the dual-entry-point contract).

    Divergence semantics also mirror ``--properties-file`` (r14,
    ADVICE — the r13 cut raised on non-``spark.`` keys and duplicate
    keys, so a file that loaded fine natively could raise here):
    non-``spark.`` keys are WARNED and skipped (spark-submit logs
    "Ignoring non-Spark config property"), and duplicate keys are
    last-wins with a warning (java.util.Properties.load overwrites).
    The one place this stays deliberately stricter than Properties is
    a key with NO value — Properties admits an empty value, but an
    empty conf value in a deployment profile is a profile bug and
    raises here."""
    import re
    import warnings

    conf: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if not line or line.startswith(("#", "!")):
                continue
            m = re.match(r"([^\s=:]+)\s*[=:\s]\s*(.+)$", line)
            if not m:
                raise ValueError(f"malformed profile line: {raw!r}")
            key, value = m.group(1), m.group(2).strip()
            if not key.startswith("spark."):
                warnings.warn(
                    f"ignoring non-Spark config property in {path}: "
                    f"{key}",
                    stacklevel=2,
                )
                continue
            if key in conf:
                warnings.warn(
                    f"duplicate profile key {key} in {path}: "
                    f"last value wins (Properties semantics)",
                    stacklevel=2,
                )
            conf[key] = value
    return conf


def get_spark(
    app_name: str = "wiki_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-minded defaults.

    ``profile`` (or env ``SPARK_GRAFT_PROFILE``) names a Spark
    properties file overlaid on the defaults — the checked-in 100 TB
    deployment profile is conf/spark-cluster-profile.conf (SCALE.md
    "Cluster profile"). Overlay order: defaults < profile <
    ``extra_conf``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    profile = profile or os.environ.get("SPARK_GRAFT_PROFILE")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if profile:
        for k, v in load_profile(profile).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def worker_zip_guard():
    """Return ``install()``, which makes ``zipimporter.invalidate_caches``
    re-read an archive only when its ``(st_mtime_ns, st_size, st_ino)``
    differs from what that same importer last read. Call it first in a
    closure shipped to Python workers: it is nested, so cloudpickle
    ships it by value, and a reused worker keeps the hook for every
    later task. An ``os.stat`` error falls back to the plain re-read;
    a second install is a no-op."""

    def install() -> None:
        import os
        import zipimport

        reread = zipimport.zipimporter.invalidate_caches
        if hasattr(reread, "__wrapped__"):
            return

        def invalidate_caches(self):
            try:
                st = os.stat(self.archive)
            except OSError:
                return reread(self)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
            # per importer: two importers of one archive each re-read
            if self.__dict__.get("_read_key") != key:
                reread(self)
                self._read_key = key

        invalidate_caches.__wrapped__ = reread
        zipimport.zipimporter.invalidate_caches = invalidate_caches

    return install


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]) -> Iterator[None]:
    """Set ``settings`` for the block, then restore each key's saved
    value (unsetting a key that was unset), also when the block raises."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
