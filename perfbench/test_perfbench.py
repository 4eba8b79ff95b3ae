"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import urllib.request

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import fake_api  # noqa: E402
import gen_org  # noqa: E402
import gen_star  # noqa: E402
import metrics  # noqa: E402
import sync_workload  # noqa: E402
from trace import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _drop_bytes(org):
    return (
        gen_org.xlsx_bytes(gen_org.SHEET, gen_org.HEADERS, org.rows),
        gen_org.csv_bytes(org.corporate),
        json.dumps(org.api_state(), sort_keys=True).encode(),
    )


def test_same_seed_same_bytes_other_seed_differs():
    a = _drop_bytes(gen_org.generate(11, regions=4, districts=12, stores=60))
    b = _drop_bytes(gen_org.generate(11, regions=4, districts=12, stores=60))
    c = _drop_bytes(gen_org.generate(12, regions=4, districts=12, stores=60))
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_star_schema_is_seeded(tmp_path):
    def files(seed, d):
        gen_star.generate(str(d), seed, 0.0005)
        return {t: (d / f"{t}.parquet").read_bytes() for t in gen_star.TABLES}

    a, b, c = files(3, tmp_path / "a"), files(3, tmp_path / "b"), files(4, tmp_path / "c")
    assert a == b
    assert a["orders"] != c["orders"] and a["events"] != c["events"]


def test_xlsx_drop_parses_with_the_program_reader():
    from graphql_api_etl_spark.sources.xlsx import parse_xlsx_sheet

    org = gen_org.generate(5, regions=4, districts=8, stores=24)
    header, rows = parse_xlsx_sheet(gen_org.xlsx_bytes(gen_org.SHEET, gen_org.HEADERS, org.rows), gen_org.SHEET)
    assert header == gen_org.HEADERS
    assert len(rows) == len(org.rows)
    for got, want in zip(rows, org.rows):
        assert got == [None if v is None else (repr(v) if isinstance(v, float) else v) for v in want]


@pytest.fixture()
def api_server():
    org = gen_org.generate(2, regions=4, districts=8, stores=450)
    api = fake_api.FakeApi(json.loads(json.dumps(org.api_state())))
    server = fake_api.make_server(api, threads=2)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield org, api, f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()
        server.server_close()
        server.pool.shutdown(wait=True)
        thread.join(timeout=10)
        assert not thread.is_alive()


def _post(url, body):
    req = urllib.request.Request(url, data=json.dumps(body).encode(), headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


def _walk(url, conn, first=37):
    ids, after = [], None
    while True:
        variables = {"first": first, **({"after": after} if after else {})}
        page = _post(f"{url}/graphql", {"operationName": conn, "variables": variables})["data"][conn]
        ids += [e["node"]["id"] for e in page["edges"]]
        if not page["pageInfo"]["hasNextPage"]:
            return ids
        after = page["pageInfo"]["endCursor"]


def test_cursor_walk_returns_every_node_once_and_reset_restores(api_server):
    org, api, url = api_server
    for conn in fake_api.CONNECTIONS:
        want = [n["id"] for n in org.api_state()[conn]]
        assert _walk(url, conn) == want
        assert len(set(want)) == len(want)
    before = len(_walk(url, "locations"))
    body = {"operationName": "locationAdd",
            "variables": {"input": {"records": [{"name": "Store X", "remoteId": "1"}, {"name": "Store Y", "remoteId": "2"}]}}}
    out = _post(f"{url}/graphql", body)
    if "errors" in out:  # the body hit the first-attempt failure rule
        assert fake_api.fails_first_attempt(json.dumps(body).encode())
        out = _post(f"{url}/graphql", body)
    assert [r["success"] for r in out["data"]["locationAdd"]["results"]] == [True, True]
    assert len(_walk(url, "locations")) == before + 2
    _post(f"{url}/_control", {"op": "reset"})
    assert len(_walk(url, "locations")) == before
    report = _post(f"{url}/_control", {"op": "report"})
    assert report["applied"] == {} and report["counters"]["mutation_posts"] == 0
    assert report["state_sizes"]["locations"] == before


def test_first_attempt_failure_and_per_record_rejections(api_server):
    org, api, url = api_server
    refused = sorted(org.reject_remote_ids)[0]
    for i in range(64):  # find a body the content rule fails once
        body = {"operationName": "locationAdd",
                "variables": {"input": {"records": [{"name": "Store R", "remoteId": refused},
                                                    {"name": f"Store {i}", "remoteId": f"new{i}"}]}}}
        raw = json.dumps(body).encode()
        if fake_api.fails_first_attempt(raw):
            break
    assert "errors" in api.handle(raw)
    out = api.handle(raw)["data"]["locationAdd"]["results"]
    assert [r["success"] for r in out] == [False, True]
    report = api.report()
    assert report["counters"]["injected_failures"] == 1
    assert report["rejected"] == [{"name": "Store R", "remoteId": refused}]
    assert report["state_sizes"]["locations"] == len(org.locations) + 1


def test_expectations_match_a_hand_checked_tiny_org():
    # 40 stores over 4 districts: 2 new (one in twenty), 2 of those
    # refused by the API, one district group missing from the API.
    org = gen_org.generate(9, regions=4, districts=4, stores=40)
    exp = org.expected
    assert exp["counts"] == {
        "locations_matched_pass1": 38,
        "locations_missing_pass1": 2,
        "locations_matched_pass2": 38,
        "districts_with_locations": 3,
    }
    assert len(exp["location_adds"]) == 2 and len(exp["rejected"]) == 2
    assert {json.loads(p)["remoteId"] for p in exp["location_adds"]} == set(exp["rejected"])
    assert exp["reports"] == ["deprecated_locations", "missing_locations", "outdated_districts", "still_unloaded"]
    in_api = {n["remoteId"] for n in org.locations}
    assert not in_api & set(exp["rejected"])
    assert len(org.locations) == 38 + 1  # 38 known stores + one zombie
    for p in exp["location_adds"]:
        rec = json.loads(p)
        assert rec["name"] == f"Store {rec['remoteId']}"
        assert rec["postalCode"] == "" or re.fullmatch(r"\d{5}", rec["postalCode"])
    # the sheet, the groups, and 39 locations in each of the two walks
    # (both adds refused, so the second walk finds no more)
    assert sync_workload.input_rows(org) == len(org.rows) + len(org.groups) + 2 * 39


def test_accounted_ratio_leaves_out_the_root_span():
    t = Tracer()
    t.job = 1
    with t.span("job"):
        with t.span("queries.a"):
            time.sleep(0.05)
        time.sleep(0.05)  # inside no named layer
    inclusive, own = t.job_totals(1)
    assert 0.3 < metrics.accounted_ratio(own, inclusive["job"]) < 0.7


def test_every_layer_metric_runs_on_some_workload():
    for name, *_ in metrics.PER_LAYER:
        assert metrics.runs_on(name, metrics.SYNC) or metrics.runs_on(name, metrics.QUERY), name
    assert metrics.runs_on("spark.jobs", metrics.QUERY) and metrics.runs_on("spark.jobs", metrics.SYNC)
    assert not metrics.runs_on("net.requests", metrics.QUERY)
    assert not metrics.runs_on("queries.events_sessionize_s", metrics.SYNC)


def test_metric_names_and_benchmark_json_agree():
    names = [n for n, *_ in metrics.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == names
    for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]:
        assert NAME.match(m["name"])
