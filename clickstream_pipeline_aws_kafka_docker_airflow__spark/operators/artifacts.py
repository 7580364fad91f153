"""Materialized pipeline artifacts: build-once, read-everywhere tables.

A production corpus build does not recompute the near-dup pair list or
the cluster-label table inside every downstream query — a dedup JOB
materializes them, and curation queries join the materialized table
(the same train-once/reuse pattern as the IVF quantizer,
similarity_q._quantizer_cached, itself an artifact). This helper gives
that shape to the local harness: an artifact is keyed on the source
file identity (path + mtime + size) plus a version/params tag, built on
first use, and read as parquet thereafter (through ``memo.MEMO``).
Values round-trip exactly (ints, strings, float64), so a consumer sees
bit-identical rows either way — oracle parity cannot tell the
difference, only the wall clock can.

Concurrent builders race safely: each writes to a pid-suffixed temp
dir and atomically renames into place; the loser just reads the
winner's table.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from ..memo import MEMO, file_key

#: Seconds spent BUILDING artifacts since last reset, keyed by artifact
#: name. bench_compare reads this to report build-inclusive walls for
#: artifact-served queries (a warm read vs the oracle's full recompute
#: is otherwise an apples-to-oranges per-query ratio).
BUILD_WALLS: dict[str, float] = {}

# Per-user root, created 0o700: a predictable world-writable /tmp path
# would let any local user pre-plant a directory that the reader below
# would serve as a trusted artifact.
ARTIFACT_ROOT = f"/tmp/spark_graft_artifacts_u{os.getuid()}"


def artifact_key(src_path: str, name: str, params: str = "") -> str:
    st = os.stat(src_path)
    return (
        name
        + "_"
        + hashlib.sha1(
            f"{os.path.abspath(src_path)}:{st.st_mtime_ns}:{st.st_size}:"
            f"{name}:{params}".encode()
        ).hexdigest()[:16]
    )


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def materialized(
    spark: SparkSession,
    src_path: str,
    name: str,
    build,
    params: str = "",
) -> DataFrame:
    """Return the artifact as a DataFrame, building it on first use.

    ``build`` is a zero-arg callable returning the DataFrame to
    materialize. The parquet round-trip preserves every driver-checked
    type (bigint/double/string/bool/arrays).

    Build-scope contract: the build runs inside
    ``checkpoint_release_scope``, which on exit unpersists every
    RDD-storage registration the build created — correct because the
    artifact is re-READ from parquet, so build lineage is dead at
    commit. A ``build`` callable must therefore NOT create cache pins
    meant to outlive the build (none does today; a builder that needs
    one should materialize it as its own artifact instead).

    Completion contract: a directory is an artifact ONLY if Spark's
    ``_SUCCESS`` marker exists. Losing the build race is fine (the
    winner's complete table is read); finding an INCOMPLETE directory
    at the destination is not — it is cleared and the rename retried,
    and if the destination still isn't complete the call raises rather
    than serve a partial/foreign table.
    """
    from ..streaming.release import checkpoint_release_scope

    os.makedirs(ARTIFACT_ROOT, mode=0o700, exist_ok=True)
    path = os.path.join(ARTIFACT_ROOT, artifact_key(src_path, name, params))
    if not _complete(path):
        t0 = time.perf_counter()
        tmp = f"{path}.tmp-{os.getpid()}"
        # Build inside a checkpoint-release scope: builders that iterate
        # (connected_components' per-round localCheckpoint) register
        # RDD-storage blocks that are dead the moment the parquet write
        # below commits — the artifact is re-READ from disk, never from
        # the build lineage. Without the scope those blocks linger until
        # a driver GC happens to run, which made cold-cache storage
        # occupancy nondeterministic (the cache-accretion suite caught
        # exactly this on a fresh /tmp).
        with checkpoint_release_scope(spark):
            build().write.mode("overwrite").parquet(tmp)
        try:
            os.replace(tmp, path)
        except OSError:
            if not _complete(path):
                # destination occupied by something that is NOT a
                # finished artifact (crashed builder, foreign dir):
                # clear it and promote ours
                shutil.rmtree(path, ignore_errors=True)
                try:
                    os.replace(tmp, path)
                except OSError:
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not _complete(path):
                        raise RuntimeError(
                            f"artifact destination {path} is neither "
                            "complete nor replaceable"
                        )
            shutil.rmtree(tmp, ignore_errors=True)
        BUILD_WALLS[name] = BUILD_WALLS.get(name, 0.0) + (
            time.perf_counter() - t0
        )
    # the same (application, path, snapshot) returns the same DataFrame,
    # so the parquet footer/schema job runs once per artifact per
    # session instead of once per consuming query
    return MEMO.get(
        "artifact",
        file_key(spark, os.path.join(path, "_SUCCESS")),
        lambda: spark.read.parquet(path),
    )
