"""HTTP task-management facade (streaming/http_api.py): the reference's
POST /cdc verb set (server/cdc_api.go:26-36) over the file-backed
registry — create/get/list/pause/resume/get_position/maintenance/delete
round-trip, plus error shapes."""

import json
import threading
import urllib.request

import pytest

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.sources import generate_changelog, write_changelog
from milvus_cdc_spark.streaming.engine import run_until_drained
from milvus_cdc_spark.streaming.http_api import serve


@pytest.fixture()
def api(tmp_path):
    srv = serve(str(tmp_path / "tasks"), port=0)  # ephemeral port
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def post(request_type, **request_data):
        body = json.dumps(
            {"request_type": request_type, "request_data": request_data}
        ).encode()
        req = urllib.request.Request(
            base + "/cdc", data=body, method="POST"
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    post.base = base
    yield post
    srv.shutdown()


def test_lifecycle_roundtrip_over_http(spark, tmp_path, api):
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, 600, n_parts=2, num_partitions=2),
        log, n_files=2,
    )
    table, ckpt = str(tmp_path / "t"), str(tmp_path / "ck")

    code, r = api("create", task_name="t1", log=log, table=table,
                  checkpoint=ckpt)
    assert code == 200 and r["data"]["name"] == "t1"
    code, r = api("create", task_name="t1", log=log, table=table,
                  checkpoint=ckpt)
    assert code == 400  # duplicate name refuses

    code, r = api("list")
    assert code == 200 and [t["spec"]["name"] for t in r["data"]["tasks"]] == ["t1"]
    code, r = api("get", task_name="t1")
    assert code == 200 and r["data"]["status"]["state"] in (
        "Initial", "Stopped"
    )

    # a worker drains (Spark lives in the worker, not the HTTP server)
    run_until_drained(spark, log, table, ckpt, max_files_per_trigger=1,
                      n_buckets=4)

    code, r = api("get_position", task_name="t1")
    assert code == 200
    pos = r["data"]
    assert pos["last_epoch"] == 1 and pos["pending_files"] == 0
    assert pos["applied_hwm"] == 599 and pos["applied_end_lsn_per_part"]
    assert max(pos["applied_end_lsn_per_part"].values()) == 599

    code, r = api("pause", task_name="t1")
    assert code == 200 and r["data"]["pause_requested"]
    code, r = api("get", task_name="t1")
    assert r["data"]["status"].get("pause_requested") is True
    code, r = api("resume", task_name="t1")
    assert code == 200
    code, r = api("get", task_name="t1")
    assert r["data"]["status"].get("pause_requested") is not True

    code, r = api("maintenance", task_name="t1", op="vacuum",
                  keep_versions=1, min_age_sec=0.0)
    assert code == 200 and table in r["data"]

    code, r = api("delete", task_name="t1", drop_checkpoint=True)
    assert code == 200
    code, r = api("list")
    assert r["data"]["tasks"] == []
    import os

    assert os.path.isdir(table)  # replicated data survives delete


def test_error_shapes(api):
    code, r = api("nope")
    assert code == 400 and "request_type" in r["message"]
    code, r = api("get", task_name="ghost")
    assert code == 400
    code, r = api("pause")  # missing task_name
    assert code == 400 and "task_name" in r["message"]
    # GET is unsupported except /health (reference POST-only stance,
    # server/server.go:65-66)
    with urllib.request.urlopen(api.base + "/health") as resp:
        assert resp.status == 200
    try:
        urllib.request.urlopen(api.base + "/cdc")
        raised = False
    except urllib.error.HTTPError as e:
        raised = e.code == 405
    assert raised
