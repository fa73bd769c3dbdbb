"""Build artifacts and scratch directories.

The registry queries share expensive derived data — persisted indexes,
materialized signature tables, trained models, pinned DataFrames — and
build each one once per process. :func:`artifact` is the one memo they
all go through, and :func:`scratch_dir` is the one place the engine
makes temporary directories, all removed by a single sweep at
interpreter exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from kafka_streams_the_clojure_way_spark.sources.files import change_token

#: scratch dirs still on disk; the exit sweep removes whatever is left
_LIVE_SCRATCH: set[str] = set()
#: (applicationId, sf_dir, kind, params) -> (source token, built value)
_ARTIFACTS: dict[tuple, tuple[object, object]] = {}


def _sweep() -> None:
    for path in list(_LIVE_SCRATCH):
        shutil.rmtree(path, ignore_errors=True)
    _LIVE_SCRATCH.clear()


atexit.register(_sweep)


def scratch_dir(prefix: str) -> str:
    """A fresh temporary directory, removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _LIVE_SCRATCH.add(path)
    return path


def artifact(spark, sf_dir, kind, build, *params, sources=("documents",)):
    """Return ``build(scratch_dir)``, built at most once per key.

    - *Key*: ``(applicationId, sf_dir, kind, params)``. ``params`` are
      every build parameter, so changing one builds a new artifact
      instead of serving one made under the old value. The session's
      applicationId is in the key because a DataFrame is bound to the
      session that made it; a restarted session rebuilds.
    - *Token*: each hit is checked against the :func:`change_token` of
      the ``sources`` tables (``<sf_dir>/<table>.parquet``). A changed
      token builds again into a fresh scratch dir; a None token (a
      source that cannot be read) is served by key.
    - *None seam*: ``sf_dir=None`` (property tests feed literal frames
      through a patched ``load_table``) builds on every call and caches
      nothing, since there is no source to check against.
    - *Cleanup*: every build gets its own :func:`scratch_dir`. A
      superseded build's dir stays until interpreter exit, because a
      lazily-read DataFrame may still point there.
    """
    if sf_dir is None:
        return build(scratch_dir(f"{kind}_"))
    tokens = tuple(
        change_token(os.path.join(sf_dir, f"{table}.parquet")) for table in sources
    )
    token = None if None in tokens else tokens
    key = (spark.sparkContext.applicationId, sf_dir, kind, params)
    hit = _ARTIFACTS.get(key)
    if hit is not None and (token is None or hit[0] == token):
        return hit[1]
    value = build(scratch_dir(f"{kind}_"))
    _ARTIFACTS[key] = (token, value)
    return value
