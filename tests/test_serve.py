"""HTTP service routes (serve.py) — explore / view / CSV download
driven through Flask's test client against a live SparkSession,
mirroring the reference's interactive flow (serve.py:110-147)."""

from urllib.parse import quote

import pytest

flask = pytest.importorskip("flask")


@pytest.fixture()
def served(spark, tmp_path):
    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.serve import create_app

    registry = register_document_tasks(spark, "/root/testdata/sf0.001")
    app = create_app(
        spark, registry=registry, cache_root=str(tmp_path / "cache")
    )
    return app, registry


def test_full_flow_explore_view_csv(served):
    from task_on_dataframes_spark.browse import BrowseState

    app, registry = served
    client = app.test_client()

    # step 1: empty state — get_docs must be offered as a next action
    r = client.get("/explore/")
    assert r.status_code == 200 and "get_docs" in r.get_data(as_text=True)

    # step 2: append get_docs exactly the way the rendered link does
    bs = BrowseState([], [], registry=registry)
    get_docs = next(
        a for a in bs.further_actions([]) if a.Task == "get_docs"
    )
    q = quote(bs.with_action(get_docs).to_url_q(), safe="")

    r = client.get(f"/explore/{q}")
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert "docs.id" in body and "docs.text" in body
    assert "Back" in body

    # step 3: view the produced frame — executes through the cache
    r = client.get(f"/view/0/0/{q}")
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert "<table>" in body and "docs.id" in body

    # the cache now holds the frame: later pages are parquet reads
    assert client.get(f"/view/1/0/{q}").status_code == 200

    # step 4: CSV download of page 0
    r = client.get(f"/download/csv/0/{q}")
    assert r.status_code == 200
    assert r.mimetype == "text/csv"
    lines = r.get_data(as_text=True).strip().splitlines()
    assert lines[0].split(",")[0] in ("docs.id", "docs.text")
    assert len(lines) > 1


def test_view_is_served_from_cache_after_first_hit(served, tmp_path):
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.cache import plan_key, ResultCache

    app, registry = served
    client = app.test_client()
    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    bs2 = bs.with_action(act)
    q = quote(bs2.to_url_q(), safe="")

    assert client.get(f"/view/0/0/{q}").status_code == 200
    key = plan_key(list(bs2.actions), ["frame=0"])
    cache = ResultCache(str(tmp_path / "cache"))
    assert cache.status(key) == "done"


def test_background_submit_in_progress_then_done(spark, tmp_path):
    import threading
    import time

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "bg_cache"))
    release = threading.Event()

    def slow_compute():
        release.wait(timeout=30)
        return spark.range(7).toDF("v")

    key = "k" * 32
    assert cache.status(key) == "missing"
    assert cache.submit(key, slow_compute) == "in_progress"
    # a second submit while in flight must not start a second job
    assert cache.submit(key, slow_compute) == "in_progress"
    assert cache.status(key) == "in_progress"

    release.set()
    for _ in range(200):
        if cache.status(key) == "done":
            break
        time.sleep(0.1)
    assert cache.status(key) == "done"
    assert cache.load(spark, key).count() == 7


def test_background_submit_records_failure(spark, tmp_path):
    import time

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "bg_err"))

    def boom():
        raise RuntimeError("deliberate failure for the error path")

    key = "e" * 32
    assert cache.submit(key, boom) == "in_progress"
    for _ in range(100):
        if cache.status(key) == "error":
            break
        time.sleep(0.1)
    assert cache.status(key) == "error"
    assert "deliberate failure" in cache.error(key)
    # invalidate clears the error so the plan can be resubmitted
    cache.invalidate(key)
    assert cache.status(key) == "missing"


def test_view_returns_wait_page_then_result_in_background_mode(
    spark, tmp_path
):
    import time
    from urllib.parse import quote

    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.serve import create_app

    registry = register_document_tasks(spark, "/root/testdata/sf0.001")
    app = create_app(
        spark,
        registry=registry,
        cache_root=str(tmp_path / "bg_serve"),
        background=True,
    )
    client = app.test_client()

    bs = BrowseState([], [], registry=registry)
    act = next(a for a in bs.further_actions([]) if a.Task == "get_docs")
    q = quote(bs.with_action(act).to_url_q(), safe="")

    # first request: submitted to the pool, caller gets the wait page
    r = client.get(f"/view/0/0/{q}")
    assert r.status_code == 202
    assert "background" in r.get_data(as_text=True)

    # poll like the refresh tag does until the parquet write lands
    deadline = time.time() + 60
    while time.time() < deadline:
        r = client.get(f"/view/0/0/{q}")
        if r.status_code == 200:
            break
        assert r.status_code == 202
        time.sleep(0.2)
    assert r.status_code == 200
    assert "<table>" in r.get_data(as_text=True)


@pytest.mark.parametrize("n", [23, 0])
def test_rows_from_footers_match_count(spark, tmp_path, n):
    import os

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "rows"))
    key = f"{n:032d}"
    df = cache.store(spark.range(n).repartition(3), key)
    names = os.listdir(cache._dir(key))
    # the footer sum must skip what Spark skips: _SUCCESS and .crc files
    assert "_SUCCESS" in names and any(f.startswith(".") for f in names)
    assert cache.rows(key) == df.count() == n
    # a fresh instance (no handle yet) counts the same from the footers
    assert ResultCache(cache.root).rows(key) == n
    assert ResultCache(cache.root).rows("f" * 32) is None


def test_view_page_links_follow_footer_rows(spark, tmp_path):
    import math
    import re

    from task_on_dataframes_spark.cache import ResultCache, plan_key
    from task_on_dataframes_spark.serve import create_app

    # the only frame is the source: file entry r<n> loads spark.range(n)
    app = create_app(
        spark,
        cache_root=str(tmp_path / "range_cache"),
        page_size=5,
        source_loader=lambda f: spark.range(int(f[1:])),
    )
    client = app.test_client()
    r = client.get("/view/1/0/file_0%3Dr23")
    assert r.status_code == 200
    pages = r.get_data(as_text=True).split("Pages:", 1)[1]
    links = re.findall(r'<a href="/view/\d+/0/', pages) + re.findall(
        r"<b>\d+</b>", pages
    )
    rows = ResultCache(str(tmp_path / "range_cache")).rows(
        plan_key([], ["r23", "frame=0"])
    )
    assert rows == 23
    assert len(links) == math.ceil(rows / 5) == 5


def test_store_returns_frame_over_cached_files(spark, tmp_path):
    import os

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "readback"))
    key = "b" * 32
    lineage = spark.range(40).selectExpr("id", "id * 2 AS twice")
    df = cache.store(lineage, key)
    root = os.path.realpath(cache._dir(key))
    files = df.inputFiles()
    assert files
    assert all(
        os.path.realpath(f.split("file:", 1)[-1]).startswith(root + os.sep)
        for f in files
    )
    assert df.schema == spark.read.parquet(cache._dir(key)).schema
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, lineage.collect())
    )
    # a load on the same instance hands back the same read handle
    assert cache.load(spark, key) is df


def test_stale_handle_is_not_served(spark, tmp_path):
    from task_on_dataframes_spark.cache import ResultCache

    root = str(tmp_path / "stale")
    cache = ResultCache(root)
    key = "c" * 32

    cache.store(spark.range(3), key)
    assert cache.load(spark, key).count() == 3
    cache.invalidate(key)
    assert cache.load(spark, key) is None and cache.rows(key) is None
    cache.store(spark.range(10, 15), key)
    assert sorted(r.id for r in cache.load(spark, key).collect()) == list(
        range(10, 15)
    )
    assert cache.rows(key) == 5

    # another instance on the same root rewrites the key: the first
    # instance's handle is stale by the _SUCCESS mtime and is re-read
    ResultCache(root).store(spark.range(100, 107), key)
    assert sorted(r.id for r in cache.load(spark, key).collect()) == list(
        range(100, 107)
    )
    assert cache.rows(key) == 7


def test_background_stores_and_loads_share_handles(spark, tmp_path):
    """Eight pool threads store while this thread loads, with a short
    switch interval: every key ends with a handle holding its own row
    count."""
    import sys
    import time

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "stress"), max_workers=8)
    keys = {f"{n:032x}": n for n in range(1, 9)}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for key, n in keys.items():
            cache.submit(key, lambda n=n: spark.range(n))
        deadline = time.time() + 120
        pending = set(keys)
        while pending and time.time() < deadline:
            for key in list(pending):
                if cache.load(spark, key) is not None:
                    pending.discard(key)
            time.sleep(0.01)
    finally:
        sys.setswitchinterval(old)
    assert not pending
    for key, n in keys.items():
        assert cache.rows(key) == n
        assert cache._handles[key].rows == n


def test_concurrent_get_or_compute_shares_one_write(spark, tmp_path):
    """Two threads ask for one uncached key while its computation is
    running: the plan runs once and both get the rows back (a second
    overwrite would delete the files the first frame reads)."""
    import threading

    from task_on_dataframes_spark.cache import ResultCache

    cache = ResultCache(str(tmp_path / "single"))
    key = "d" * 32
    started, release = threading.Event(), threading.Event()
    calls = []

    def compute():
        calls.append(1)
        started.set()
        release.wait(30)
        return spark.range(17).repartition(2)

    results = {}

    def request(name):
        results[name] = sorted(
            r.id for r in cache.get_or_compute(spark, key, compute).collect()
        )

    first = threading.Thread(target=request, args=("first",))
    first.start()
    assert started.wait(30)
    second = threading.Thread(target=request, args=("second",))
    second.start()
    second.join(0.5)
    assert second.is_alive()  # waiting on the first call's write
    release.set()
    first.join(120)
    second.join(120)
    assert len(calls) == 1
    assert results == {"first": list(range(17)), "second": list(range(17))}
    assert cache.rows(key) == 17


def test_unreadable_footers_leave_the_write_standing(
    spark, tmp_path, monkeypatch
):
    import time

    import pyarrow.parquet as pq

    from task_on_dataframes_spark.cache import ResultCache

    def broken(*a, **kw):
        raise OSError("footer unreadable")

    monkeypatch.setattr(pq, "read_metadata", broken)
    cache = ResultCache(str(tmp_path / "nofooter"))
    df = cache.store(spark.range(9), "e" * 32)
    assert df.count() == 9 and cache.rows("e" * 32) == 9  # counted by Spark

    key = "a" * 32
    cache.submit(key, lambda: spark.range(4))
    deadline = time.time() + 120
    while cache.status(key) == "in_progress" and time.time() < deadline:
        time.sleep(0.05)
    assert cache.status(key) == "done" and cache.error(key) is None
    assert cache.rows(key) == 4


def test_stale_and_surplus_handles_are_dropped(spark, tmp_path, monkeypatch):
    import shutil

    from task_on_dataframes_spark import cache as cache_mod

    monkeypatch.setattr(cache_mod, "_MAX_HANDLES", 2)
    cache = cache_mod.ResultCache(str(tmp_path / "drop"))
    keys = [f"{n:032d}" for n in range(3)]
    for n, key in enumerate(keys):
        cache.store(spark.range(n + 1), key)
    assert list(cache._handles) == keys[1:]  # the oldest was dropped
    assert cache.load(spark, keys[0]).count() == 1  # re-read from disk
    assert list(cache._handles) == [keys[2], keys[0]]

    # deleted by someone else: the next load finds no _SUCCESS
    shutil.rmtree(cache._dir(keys[2]))
    assert cache.load(spark, keys[2]) is None
    assert list(cache._handles) == [keys[0]]
    assert cache.rows(keys[2]) is None
