"""HTTP job-server surface (ValidationResource analog): submit a table
reference over REST, poll status, fetch per-type outputs, kill; malformed
requests get reference-style FAILED responses."""

import json
import urllib.error
import urllib.request

import pytest

from gbif_data_validator_spark.serving import ValidationServer


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    srv = ValidationServer(
        spark, str(tmp_path_factory.mktemp("jobs"))
    ).start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, json.loads(r.read())


def _post(srv, path, body=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(body).encode() if body is not None else b"",
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def _err(fn, *a):
    with pytest.raises(urllib.error.HTTPError) as ei:
        fn(*a)
    return ei.value.code, json.loads(ei.value.read())


def _wait_finished(srv, job_id):
    return srv.runner.wait(job_id, timeout=300)


def test_submit_status_output_roundtrip(server, pages_path):
    code, st = _post(
        server,
        "/jobserver/submit",
        {"path": pages_path, "config": {"check_extraction": False}},
    )
    assert code == 202 and st["status"] in ("ACCEPTED", "RUNNING")
    job_id = st["job_id"]
    _wait_finished(server, job_id)

    code, st = _get(server, f"/jobserver/status/{job_id}")
    assert code == 200 and st["status"] == "FINISHED"
    assert st["report"]["n_rows"] > 0

    # per-type outputs (ValidationDataOutput.Type analog)
    code, out = _get(server, f"/jobserver/output/{job_id}/issue_counts")
    assert code == 200 and out["data"] == st["report"]["issue_counts"]
    code, out = _get(server, f"/jobserver/output/{job_id}/report")
    assert out["data"]["n_rows"] == st["report"]["n_rows"]
    # case-insensitive type match (Type.fromString analog)
    code, out = _get(server, f"/jobserver/output/{job_id}/SAMPLES")
    assert code == 200


def test_submiturl_file_scheme(server, pages_path):
    code, st = _post(
        server, f"/jobserver/submiturl?fileUrl=file://{pages_path}"
    )
    assert code == 202
    st = _wait_finished(server, st["job_id"])
    assert st["status"] == "FINISHED"


def test_kill_route(server, pages_path):
    code, st = _post(server, "/jobserver/submit", {"path": pages_path})
    job_id = st["job_id"]
    code, st = _get(server, f"/jobserver/status/{job_id}/kill")
    assert code == 200 and st["status"] in ("KILLED", "FINISHED")


def test_error_surfaces(server, pages_path, tmp_path):
    # unknown job → 404, and kill of unknown id fabricates nothing
    code, st = _err(_get, server, "/jobserver/status/424242")
    assert code == 404 and st["status"] == "NOT_FOUND"
    code, st = _err(_get, server, "/jobserver/status/424242/kill")
    assert code == 404
    code, st = _err(_get, server, "/jobserver/status/424242")
    assert st["status"] == "NOT_FOUND"
    # missing path / unknown config key / bad format / bad route → 400/404
    code, st = _err(_post, server, "/jobserver/submit", {})
    assert code == 400 and st["status"] == "FAILED"
    code, st = _err(
        _post, server, "/jobserver/submit",
        {"path": pages_path, "config": {"nope": 1}},
    )
    assert code == 400 and "nope" in st["error"]
    code, st = _err(
        _post, server, "/jobserver/submit", {"path": pages_path, "format": "ods"}
    )
    assert code == 400
    code, st = _err(_post, server, "/jobserver/submiturl?fileUrl=http://x/y")
    assert code == 400
    code, st = _err(_get, server, "/jobserver/nope")
    assert code == 404
    # output: unknown type → 400; unfinished/missing report → 404
    code, st = _err(_get, server, "/jobserver/output/424242/report")
    assert code == 404
    code, _ = _post(server, "/jobserver/submit", {"path": pages_path})


def test_output_unknown_type(server, pages_path):
    code, st = _post(server, "/jobserver/submit", {"path": pages_path})
    job_id = st["job_id"]
    code, st = _err(_get, server, f"/jobserver/output/{job_id}/dataset_blob")
    assert code == 400
    _wait_finished(server, job_id)


# --- trust model (round-3 ADVICE) -------------------------------------------


def test_non_loopback_requires_token(spark, tmp_path):
    with pytest.raises(ValueError, match="auth_token"):
        ValidationServer(spark, str(tmp_path), host="0.0.0.0")


def test_work_dir_not_client_settable_without_prefix(server, pages_path):
    code, st = _err(
        _post, server, "/jobserver/submit",
        {"path": pages_path, "config": {"work_dir": "/etc/pwned"}},
    )
    assert code == 403 and "work_dir" in st["error"]


def test_removed_n_salt_config_key_is_unknown(server, pages_path):
    code, st = _err(
        _post, server, "/jobserver/submit",
        {"path": pages_path, "config": {"n_salt": 16}},
    )
    assert code == 400 and "n_salt" in st["error"]


@pytest.mark.parametrize(
    "key",
    [
        "robots_summary",
        "graph_top_k",
        "skew_summary_top_k",
        "robots_top_k",
        "volume_top_k",
        "manifest_max_examples",
    ],
)
def test_removed_summary_config_keys_are_unknown(server, pages_path, key):
    code, st = _err(
        _post, server, "/jobserver/submit",
        {"path": pages_path, "config": {key: 1}},
    )
    assert code == 400 and "unknown config keys" in st["error"] and key in st["error"]


def test_auth_token_and_path_prefix(spark, tmp_path, pages_path):
    import os
    import urllib.request

    srv = ValidationServer(
        spark, str(tmp_path / "jobs"),
        auth_token="s3cret", path_prefix=os.path.dirname(pages_path),
    ).start()
    try:
        # unauthenticated → 401 on both verbs
        code, st = _err(_get, srv, "/jobserver/status/1")
        assert code == 401
        code, st = _err(_post, srv, "/jobserver/submit", {"path": pages_path})
        assert code == 401

        def _auth_post(body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/jobserver/submit",
                data=json.dumps(body).encode(),
                headers={
                    "Content-Type": "application/json",
                    "Authorization": "Bearer s3cret",
                },
                method="POST",
            )
            try:
                with urllib.request.urlopen(req) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        # path escaping the prefix → 403; work_dir outside prefix → 403
        code, st = _auth_post({"path": "/etc/passwd"})
        assert code == 403 and "path" in st["error"]
        code, st = _auth_post(
            {"path": pages_path, "config": {"work_dir": "/tmp/elsewhere"}}
        )
        assert code == 403
        # in-prefix path + in-prefix work_dir → accepted
        wd = os.path.join(os.path.dirname(pages_path), "wd")
        code, st = _auth_post({"path": pages_path, "config": {"work_dir": wd}})
        assert code == 202
        _wait_finished(srv, st["job_id"])
    finally:
        srv.stop()


def test_path_prefix_symlink_escape_is_refused(spark, tmp_path, pages_path):
    """A symlink inside the prefix that points outside it does not extend
    the allowlist: both the input path and config.work_dir resolve
    through it and get 403."""
    import os

    prefix = tmp_path / "allowed"
    outside = tmp_path / "outside"
    prefix.mkdir()
    outside.mkdir()
    os.symlink(os.path.dirname(pages_path), outside / "data")
    os.symlink(outside, prefix / "link")
    srv = ValidationServer(
        spark, str(tmp_path / "jobs"), path_prefix=str(prefix)
    ).start()
    try:
        escaped = os.path.join(str(prefix), "link", "data", os.path.basename(pages_path))
        for path in (escaped, "file://" + escaped):
            code, st = _err(_post, srv, "/jobserver/submit", {"path": path})
            assert code == 403 and "path" in st["error"]
        code, st = _err(
            _post, srv, "/jobserver/submit",
            {"path": str(prefix / "pages"),
             "config": {"work_dir": str(prefix / "link" / "wd")}},
        )
        assert code == 403 and "work_dir" in st["error"]
        assert not (outside / "wd").exists()
    finally:
        srv.stop()


def test_submit_body_caps_and_content_type(spark, tmp_path, pages_path):
    """maxFileTransferSizeInBytes analog: an oversized body is refused
    with 413 BEFORE being read; a non-JSON content type gets 415; the
    cap is a constructor knob."""
    srv = ValidationServer(
        spark, str(tmp_path / "jobs"), max_body_bytes=256
    ).start()
    try:
        # oversized body → 413 (pad the spec beyond the 256-byte cap)
        big = {"path": pages_path, "pad": "x" * 1024}
        code, doc = _err(_post, srv, "/jobserver/submit", big)
        assert code == 413 and "exceeds cap" in doc["error"]
        # wrong content type → 415
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/jobserver/submit",
            data=json.dumps({"path": pages_path}).encode(),
            headers={"Content-Type": "multipart/form-data"},
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 415
        # a JSON array body is not a spec object → 400
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/jobserver/submit",
            data=b"[1,2,3]",
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 400
        # an in-cap spec still submits fine on the same server
        code, doc = _post(srv, "/jobserver/submit", {"path": pages_path})
        assert code == 202
        _wait_finished(srv, doc["job_id"])
    finally:
        srv.stop()


@pytest.mark.parametrize(
    "key, value",
    [("robots_table", "x"), ("manifest_table", "x"), ("custom_checks", ["x"])],
)
def test_object_config_keys_refused_before_any_write(spark, tmp_path, pages_path, key, value):
    """Config fields that hold DataFrames or CustomCheck objects cannot
    arrive as JSON: 400, and no job writes checkpoint rows under the
    work_dir that a resume of the run would treat as done."""
    import os

    srv = ValidationServer(
        spark, str(tmp_path / "jobs"), path_prefix=os.path.dirname(pages_path)
    ).start()
    wd = os.path.join(os.path.dirname(pages_path), f"wd-{key}")
    try:
        code, st = _err(
            _post, srv, "/jobserver/submit",
            {"path": pages_path, "config": {key: value, "work_dir": wd}},
        )
    finally:
        srv.stop()
    assert code == 400 and key in st["error"]
    assert not os.path.exists(os.path.join(wd, "checkpoint"))
