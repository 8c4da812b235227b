"""Size-thresholded exact→approximate auto-degrade (VERDICT r3 next-round #3).

A handful of catalog queries have an *exact* formulation that is correct and
oracle-pinnable at test scale but single-machine-hostile at 100 TB — exact
``F.percentile`` (full value buffer per group) and the exact Mann-Whitney
rank AUC (global sort).  Each of those queries already documents its
at-scale substitute (``percentile_approx`` with the q266 rank-error
certificate; the binned-ECDF AUC).  This module makes the substitution
AUTOMATIC instead of aspirational:

* ``SPARK_GRAFT_SCALE_MODE`` = ``exact`` | ``approx`` | ``auto`` (default
  ``auto``).
* In ``auto`` mode a query asks :func:`use_approx` with its driving input;
  the decision is a parquet-metadata-cheap ``count()`` compared against
  ``SPARK_GRAFT_EXACT_ROWS_MAX`` (default 75 000 — sized so the sf0.01
  correctness gate runs the exact, oracle-hash-matched path while the
  sf0.1 bench exercises the approx path every round; production deployments
  set it to their memory budget, e.g. 10M rows per grouped percentile).
* Counts are cached per version of the input file (its path, size and
  mtime, the signature ``sources.files.read_parquet`` keys its schemas on),
  so repeated catalog calls don't re-run the job and a file rewritten at the
  same path is counted again.

Parity between the two modes is test-pinned with explicit error bounds in
tests/test_scale_mode.py (rank error ≤ n/accuracy for percentiles — the
q266 certificate machinery — and ≤ max-bin-mass for the binned AUC).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .sources.files import file_signature

MODE_ENV = "SPARK_GRAFT_SCALE_MODE"
THRESHOLD_ENV = "SPARK_GRAFT_EXACT_ROWS_MAX"
DEFAULT_EXACT_ROWS_MAX = 75_000

#: accuracy passed to percentile_approx on the degraded path — rank error
#: is bounded by n / accuracy (pinned by q266's certificate query).
APPROX_ACCURACY = 10_000

#: absolute path -> (file signature, row count); one entry per path.
_COUNT_CACHE: dict[str, tuple[tuple[str, int, int], int]] = {}

#: Catalog queries with a documented exact→approx auto-degrade path.  The
#: correctness harness (tools/check.py) uses this to classify an auto-mode
#: value divergence on one of THESE queries as ``weak-approx`` (the
#: documented, parity-bounded substitute ran — see tests/test_scale_mode.py)
#: instead of ``fail``; any other divergence is still a hard fail, and in
#: ``exact`` mode these five hold the exact-hash gate like everything else.
APPROX_QUERIES = frozenset(
    {
        "q240_mad_outliers",
        "q247_equidepth_hist",
        "q288_auc",
        "q289_rolling_median",
        "q295_time_to_convert",
    }
)


def scale_mode() -> str:
    """Current mode: ``exact``, ``approx``, or ``auto`` (the default)."""
    mode = os.environ.get(MODE_ENV, "auto").strip().lower()
    if mode not in ("exact", "approx", "auto"):
        raise ValueError(f"{MODE_ENV} must be exact|approx|auto, got {mode!r}")
    return mode


def exact_rows_max() -> int:
    return int(os.environ.get(THRESHOLD_ENV, DEFAULT_EXACT_ROWS_MAX))


def _cached_count(df: DataFrame, path: str | None) -> int:
    sig = file_signature(path) if path is not None else None
    if sig is None:
        return df.count()
    hit = _COUNT_CACHE.get(sig[0])
    if hit is not None and hit[0] == sig:
        return hit[1]
    n = df.count()
    _COUNT_CACHE[sig[0]] = (sig, n)
    return n


def use_approx(df: DataFrame, *, path: str | None = None) -> bool:
    """Should this query take its approximate path?

    ``df`` is the query's driving input (ideally the bare table scan so the
    count is parquet-metadata cheap).  ``path`` is the parquet file ``df``
    reads (e.g. ``f"{sf_dir}/lineitem.parquet"``): its count is reused while
    that file version is unchanged.  Without a path, or for a path that is
    not a local file, every call counts.
    """
    mode = scale_mode()
    if mode == "exact":
        return False
    if mode == "approx":
        return True
    return _cached_count(df, path) > exact_rows_max()
