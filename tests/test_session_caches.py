"""Session-cache lifecycle (r12): dead-session entries are evicted.

VERDICT r11 "what's wrong" #2: the module-level cache registries keyed
by ``applicationId`` could never serve stale data, but their entries
(and the tempdirs some of them own) outlived stopped sessions in a
long-lived driver.  These tests pin the shared sweep: a registered
cache's foreign-app entries are removed — with their cleanup side
effects (tempdir reclaim) — while live-app entries survive.
"""

import contextlib
import os
import tempfile

from data_pipeline_package_for_python_spark.operators import _util
from data_pipeline_package_for_python_spark.operators import similarity
from data_pipeline_package_for_python_spark.queries import llm, relational


@contextlib.contextmanager
def scratch_cache(cleanup=None):
    """A registered cache that is unregistered again on exit."""
    cache = _util.register_session_cache({}, cleanup=cleanup)
    try:
        yield cache
    finally:
        with _util._SESSION_CACHE_LOCK:
            _util._SESSION_CACHES[:] = [
                (c, f) for (c, f) in _util._SESSION_CACHES if c is not cache
            ]


def test_sweep_evicts_only_foreign_app_entries():
    with scratch_cache() as cache:
        cache[("app-live", "x")] = 1
        cache[("app-dead", "x")] = 2
        cache[("app-dead", "y")] = 3
        n = _util.sweep_session_caches("app-live")
        assert n >= 2
        assert cache == {("app-live", "x"): 1}


def test_sweep_keeps_non_tuple_keys():
    with scratch_cache() as cache:
        cache["app-dead"] = 1
        cache[("app-dead", "x")] = 2
        _util.sweep_session_caches("app-live")
        assert cache == {"app-dead": 1}


def test_sweep_runs_cleanup_and_swallows_cleanup_errors():
    seen = []

    def cleanup(key, value):
        seen.append((key, value))
        raise RuntimeError("must be swallowed")

    with scratch_cache(cleanup) as cache:
        cache[("app-dead", 1)] = "v"
        _util.sweep_session_caches("app-live")
        assert seen == [(("app-dead", 1), "v")]
        assert cache == {}


def test_product_caches_are_registered():
    registered = [c for (c, _f) in _util._SESSION_CACHES]
    for cache in (
        relational._BUCKETED_PAIR_CACHE,
        llm._JPEG_CORPUS_CACHE,
        similarity._CODEBOOK_BC_CACHE,
        _util._PARALLEL_MEMO,
    ):
        assert any(cache is r for r in registered)


def test_dead_session_tempdirs_are_reclaimed(spark):
    jpeg_dir = tempfile.mkdtemp(prefix="dpp_test_jpeg_")
    bko_dir = tempfile.mkdtemp(prefix="dpp_test_bko_")
    llm._JPEG_CORPUS_CACHE[("app-dead", "/some/sf")] = jpeg_dir
    relational._BUCKETED_PAIR_CACHE[("app-dead", "/some/sf", 8)] = (
        ("t_orders", "t_lineitem"),
        bko_dir,
    )
    _util.sweep_session_caches(spark.sparkContext.applicationId)
    assert ("app-dead", "/some/sf") not in llm._JPEG_CORPUS_CACHE
    assert ("app-dead", "/some/sf", 8) not in relational._BUCKETED_PAIR_CACHE
    assert not os.path.exists(jpeg_dir)
    assert not os.path.exists(bko_dir)


def test_live_session_entries_survive_miss_path(spark):
    """A sweep from the live app evicts dead entries but keeps its own."""
    app = spark.sparkContext.applicationId
    dead_dir = tempfile.mkdtemp(prefix="dpp_test_jpeg_")
    llm._JPEG_CORPUS_CACHE[("app-dead", "/some/sf")] = dead_dir
    live_key = (app, "/test-live-sf")
    llm._JPEG_CORPUS_CACHE[live_key] = "/test-live-dir"
    try:
        _util.sweep_session_caches(app)
        assert ("app-dead", "/some/sf") not in llm._JPEG_CORPUS_CACHE
        assert llm._JPEG_CORPUS_CACHE[live_key] == "/test-live-dir"
    finally:
        llm._JPEG_CORPUS_CACHE.pop(live_key, None)
