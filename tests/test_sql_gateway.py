"""SQL gateway (external interactive endpoint, r4 "What's missing #3"):
same-catalog SQL served over HTTP, verified from BOTH an in-process
client and a genuinely separate OS process."""

from __future__ import annotations

import json
import subprocess
import sys
import urllib.error
import urllib.request

import pytest

from lakehouse_v3_spark.sql_gateway import SqlGateway


def _post(url, payload, token=None):
    req = urllib.request.Request(
        url + "/sql",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}
        | ({"Authorization": f"Bearer {token}"} if token else {}),
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def gateway(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "gw_nation"
    )
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "gw_orders"
    )
    with SqlGateway(spark, port=0) as gw:
        yield gw


def test_health_and_tables(gateway):
    with urllib.request.urlopen(gateway.url + "/health", timeout=30) as r:
        h = json.loads(r.read())
    assert h["status"] == "ok" and h["spark"]
    with urllib.request.urlopen(gateway.url + "/tables", timeout=30) as r:
        t = json.loads(r.read())
    names = {x["name"] for x in t["tables"]}
    assert {"gw_nation", "gw_orders"} <= names


def test_select_values_and_schema(gateway):
    out = _post(
        gateway.url,
        {"sql": "SELECT n_name, n_regionkey FROM gw_nation ORDER BY n_name LIMIT 3"},
    )
    assert out["columns"] == ["n_name", "n_regionkey"]
    assert out["types"][1] in ("int", "bigint")
    assert len(out["rows"]) == 3
    assert out["rows"] == sorted(out["rows"])
    assert out["truncated"] is False


def test_row_cap_truncates_not_explodes(gateway):
    out = _post(
        gateway.url, {"sql": "SELECT o_orderkey FROM gw_orders", "limit": 5}
    )
    assert len(out["rows"]) == 5
    assert out["truncated"] is True


def test_analysis_error_is_http_400(gateway):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(gateway.url, {"sql": "SELECT * FROM no_such_table"})
    assert ei.value.code == 400
    body = json.loads(ei.value.read())
    assert "no_such_table" in body["message"]


def test_ddl_roundtrip(gateway):
    out = _post(
        gateway.url,
        {"sql": "CREATE OR REPLACE TEMP VIEW gw_tmp AS SELECT 1 AS one"},
    )
    assert out["rows"] == []
    out2 = _post(gateway.url, {"sql": "SELECT one FROM gw_tmp"})
    assert out2["rows"] == [[1]]


def test_token_auth(spark):
    with SqlGateway(spark, port=0, token="s3cret") as gw:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(gw.url, {"sql": "SELECT 1"})
        assert ei.value.code == 401
        ok = _post(gw.url, {"sql": "SELECT 1 AS x"}, token="s3cret")
        assert ok["rows"] == [[1]]


def test_bad_limit_is_http_400(gateway):
    """Client-fault limits come back structured (r6 advisory): a
    non-numeric limit must be a 400 JSON error — not a dropped
    connection — and a negative limit a 400, not a 500 from
    df.limit(-n)."""
    for bad in ["ten", -3]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(gateway.url, {"sql": "SELECT 1 AS x", "limit": bad})
        assert ei.value.code == 400
        body = json.loads(ei.value.read())
        assert body["error"] == "bad_request"


@pytest.fixture(scope="module")
def gw_sleep(spark):
    """``gw_sleep(x)``: a Python UDF that returns ``x`` after 5 s, so a
    statement over it cannot finish within a short budget on any host."""

    def sleepy(x):
        import time

        time.sleep(5)
        return x

    spark.udf.register("gw_sleep", sleepy, "long")
    return "SELECT SUM(gw_sleep(id)) AS n FROM range(4)"


def test_statement_timeout_cancels_and_returns_408(gateway, gw_sleep):
    """Trino-parity statement budget (r6 verdict item #8): a query that
    exceeds timeout_ms is INTERRUPTED server-side (session-tag
    cancellation) and the client gets a structured 408 — then the very
    next statement on the same gateway runs normally (the cancel did
    not poison the session or leak its tag)."""
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(gateway.url, {"sql": gw_sleep, "timeout_ms": 800})
    assert ei.value.code == 408
    body = json.loads(ei.value.read())
    assert body["error"] == "statement_timeout"
    ok = _post(gateway.url, {"sql": "SELECT 41 + 1 AS x"})
    assert ok["rows"] == [[42]]


def test_statement_budget_cancels_jobs_submitted_after_it_lapses(
    gateway, gw_sleep
):
    """A 1 ms budget lapses while the statement is still planning, so
    its job starts after the deadline; cancelling only the jobs active
    at the deadline would let it run its 5 s."""
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(gateway.url, {"sql": gw_sleep, "timeout_ms": 1})
    assert ei.value.code == 408


def test_concurrent_clients_no_conf_bleed(gateway):
    """N concurrent clients (r6 verdict item #8): interleaved requests
    each get their own correct result — including one that SETs a
    session conf mid-flight — and a per-request failure stays
    per-request. Session confs set through one request are a documented
    session-global effect; what must NOT happen is cross-request result
    corruption or a wedged server."""
    import threading

    results: dict[int, object] = {}

    def one(i: int):
        try:
            if i % 4 == 3:
                # a failing request interleaved with good ones
                _post(gateway.url, {"sql": f"SELECT * FROM missing_{i}"})
                results[i] = "no-error"
            else:
                out = _post(
                    gateway.url,
                    {"sql": f"SELECT {i} AS i, COUNT(*) AS n FROM gw_nation"},
                )
                results[i] = out["rows"][0]
        except urllib.error.HTTPError as e:
            results[i] = e.code
        except Exception as e:  # pragma: no cover - diagnostic
            results[i] = repr(e)

    threads = [threading.Thread(target=one, args=(i,)) for i in range(12)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    for i in range(12):
        if i % 4 == 3:
            assert results[i] == 400, results
        else:
            assert results[i] == [i, 25], results


def test_cross_process_client(gateway):
    """The point of the endpoint: a SEPARATE OS process (no JVM, no
    pyspark import) runs interactive SQL against the lakehouse session
    — the reference's Trino capability across a real process boundary."""
    script = (
        "import json,urllib.request,sys\n"
        "url=sys.argv[1]\n"
        "req=urllib.request.Request(url+'/sql',"
        "data=json.dumps({'sql':\"SELECT COUNT(*) AS n, MIN(n_name) AS f \""
        "\"FROM gw_nation\"}).encode(),"
        "headers={'Content-Type':'application/json'},method='POST')\n"
        "print(urllib.request.urlopen(req,timeout=60).read().decode())\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, gateway.url],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout)
    assert out["columns"] == ["n", "f"]
    assert out["rows"][0][0] == 25
    assert out["rows"][0][1].startswith("NATION_")


# -- r8: result pagination (Trino nextUri analogue) -----------------------


def test_paged_drain_covers_full_result_no_dupes(gateway):
    """r7 verdict item #6: a client drains a result LARGER than any
    single page via next_token, without raising the row cap — the
    concatenation equals the full ordered result exactly once."""
    pages = []
    out = _post(
        gateway.url,
        {"sql": "SELECT o_orderkey FROM gw_orders ORDER BY o_orderkey",
         "page_size": 700},
    )
    pages.append(out)
    while out["next_token"]:
        out = _post(gateway.url, {"next_token": out["next_token"]})
        pages.append(out)
    rows = [r[0] for p in pages for r in p["rows"]]
    assert len(pages) >= 3  # really paged
    assert all(len(p["rows"]) <= 700 for p in pages)
    assert all(p["columns"] == ["o_orderkey"] for p in pages)
    full = _post(
        gateway.url,
        {"sql": "SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS d "
                "FROM gw_orders"},
    )["rows"][0]
    assert len(rows) == full[0] == full[1]
    assert rows == sorted(rows) and len(set(rows)) == len(rows)


def test_exhausted_or_bogus_cursor_is_404(gateway):
    out = _post(
        gateway.url,
        {"sql": "SELECT n_nationkey FROM gw_nation", "page_size": 1000},
    )
    # whole result fit in one page: no cursor was parked
    assert out["next_token"] is None
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(gateway.url, {"next_token": "deadbeef"})
    assert ei.value.code == 404
    assert json.loads(ei.value.read())["error"] == "unknown_cursor"


def test_drained_cursor_token_is_single_use(gateway):
    out = _post(
        gateway.url,
        {"sql": "SELECT n_nationkey FROM gw_nation ORDER BY n_nationkey",
         "page_size": 20},
    )
    tok = out["next_token"]
    assert tok
    out2 = _post(gateway.url, {"next_token": tok})
    assert len(out["rows"]) + len(out2["rows"]) == 25
    assert out2["next_token"] is None  # drained → cursor dropped
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(gateway.url, {"next_token": tok})
    assert ei.value.code == 404


def test_bad_page_size_is_http_400(gateway):
    for bad in [0, -1, "big"]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(gateway.url, {"sql": "SELECT 1 AS x", "page_size": bad})
        assert ei.value.code == 400


def test_eager_ddl_runs_under_statement_budget(gateway):
    """r7 advisory: CTAS/INSERT execute their jobs INSIDE spark.sql —
    the budget must wrap them too. A runaway CTAS gets a structured
    408 (or, if the cancel landed as an execution abort, a 5xx — never
    a silent success), and the target view must not exist."""
    # temp view creation is lazy, so use a cached eager shape instead:
    # CACHE TABLE executes the plan eagerly inside spark.sql
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(
            gateway.url,
            {"sql": "CACHE TABLE gw_runaway_cache AS "
                    "SELECT COUNT(*) AS n FROM gw_orders a "
                    "CROSS JOIN gw_orders b CROSS JOIN gw_orders c",
             "timeout_ms": 800},
        )
    assert ei.value.code in (408, 500)
    body = json.loads(ei.value.read())
    assert body["error"] in ("statement_timeout",) or "cancel" in body.get(
        "message", ""
    ).lower()
    # gateway still serves afterwards
    ok = _post(gateway.url, {"sql": "SELECT 41 + 1 AS x"})
    assert ok["rows"] == [[42]]


def test_cross_process_paged_client(gateway):
    """Paging from a genuinely separate OS process: drain 3 pages."""
    script = (
        "import json,urllib.request,sys\n"
        "url=sys.argv[1]\n"
        "def post(p):\n"
        "    req=urllib.request.Request(url+'/sql',data=json.dumps(p).encode(),"
        "headers={'Content-Type':'application/json'},method='POST')\n"
        "    return json.loads(urllib.request.urlopen(req,timeout=60).read())\n"
        "out=post({'sql':'SELECT n_nationkey FROM gw_nation ORDER BY n_nationkey',"
        "'page_size':10})\n"
        "rows=list(out['rows'])\n"
        "while out['next_token']:\n"
        "    out=post({'next_token':out['next_token']})\n"
        "    rows+=out['rows']\n"
        "print(json.dumps(rows))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, gateway.url],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    rows = json.loads(proc.stdout)
    assert [r[0] for r in rows] == list(range(25))


def test_hung_pinned_cursor_force_dropped_after_hard_ttl(spark):
    """r9 ADVICE (low): a fetch hung inside _take pins its cursor
    forever and the pin exempts it from TTL + LRU. After
    pin_hard_ttl_x × cursor_ttl_s of silence the cursor must be
    force-dropped regardless of pins — both at lookup time and in the
    registration sweep — so hung fetches cannot grow the registry
    unboundedly."""
    import time as _time

    with SqlGateway(spark, port=0, cursor_ttl_s=0.05) as gw:
        out = _post(
            gw.url,
            {"sql": "SELECT id FROM RANGE(100) ORDER BY id",
             "page_size": 10},
        )
        tok = out["next_token"]
        assert tok
        # simulate the hung fetch: pin without ever unpinning/touching
        hung = gw._cursor(tok)
        assert hung is not None and hung["pins"] == 1
        # within the hard bound a pinned cursor survives the sweep
        _time.sleep(0.1)  # > ttl, < 10×ttl
        gw._register_cursor(iter([]), None, {"columns": [], "types": []})
        assert tok in gw._cursors
        # past the hard bound (10 × 0.05 s = 0.5 s) it is droppable
        _time.sleep(0.5)
        assert gw._cursor(tok) is None          # lookup force-drops
        assert tok not in gw._cursors
        # the hung fetch's eventual unpin on the detached dict is benign
        gw._unpin(hung)
        # registry still serves new statements
        ok = _post(gw.url, {"sql": "SELECT 1 AS x"})
        assert ok["rows"] == [[1]]


def test_timed_budget_restores_the_threads_job_group(spark):
    """A keep-alive handler thread runs many statements: each timed
    statement's cancellable ``sqlgw-…`` group must be gone from the
    thread afterwards, leaving whatever group (or none) it had before."""
    from lakehouse_v3_spark.sql_gateway import _Budget

    sc = spark.sparkContext
    keys = _Budget._GROUP_PROPS
    before = {k: sc.getLocalProperty(k) for k in keys}

    def props():
        return {k: sc.getLocalProperty(k) for k in keys}

    def run_timed():
        with _Budget(spark, 60_000):
            assert sc.getLocalProperty("spark.jobGroup.id").startswith("sqlgw-")
            spark.range(3).count()

    try:
        for k in keys:
            sc.setLocalProperty(k, None)
        run_timed()
        assert props() == {k: None for k in keys}

        sc.setJobGroup("caller-group", "caller description")
        mine = props()
        run_timed()
        assert props() == mine
        assert mine["spark.jobGroup.id"] == "caller-group"
    finally:
        for k, v in before.items():
            sc.setLocalProperty(k, v)
