"""Parse-layer parity tests (P1-P13, FIXTURES.md edge cases)."""

from __future__ import annotations

import datetime as dt

import pytest

from clickhouse_github_log_importer_spark.operators.parsers import (
    project_events,
    read_raw,
)

from .fixtures import events, write_gz


@pytest.fixture(scope="module")
def parsed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gha") / "2015/01/01/2015-01-01-15.json.gz")
    write_gz(path, events())
    df = project_events(read_raw(spark, path))
    rows = {r["id"]: r.asDict() for r in df.collect()}
    return rows


def test_dropped_rows(parsed):
    # corrupt line, unknown type (112), issueless IssuesEvent (102)
    assert set(parsed) == {100, 101, 103, 104, 105, 106, 107, 108, 109, 110, 111, 113}


def test_common_fields(parsed):
    r = parsed[100]
    assert r["platform"] == "GitHub"
    assert r["actor_id"] == 1001 and r["actor_login"] == "alice"
    assert r["repo_id"] == 2001 and r["repo_name"] == "org1/repo1"
    assert r["action"] == "opened"
    assert r["created_at"] == dt.datetime(2015, 1, 1, 15, 0, 0)
    assert r["created_month"] == 201501
    # org absent -> default-fill 0/''
    assert r["org_id"] == 0 and r["org_login"] == ""
    assert parsed[109]["org_id"] == 3001 and parsed[109]["org_login"] == "org1"


def test_issue_fields_and_label_defaults(parsed):
    r = parsed[100]
    assert r["issue_id"] == 10 and r["issue_number"] == 5
    assert r["body"] == "it crashes"
    labels = [l.asDict() for l in r["issue_labels"]]
    assert labels[0] == {"name": "bug", "color": "red", "default": 1, "description": "a bug"}
    # null label fields default to ''/0 (app/parser.js:48-51)
    assert labels[1] == {"name": "", "color": "", "default": 0, "description": ""}
    assert r["issue_author_association"] == "OWNER"
    assert [a.asDict() for a in r["issue_assignees"]][1] == {"login": "", "id": 0}
    assert r["issue_closed_at"] is None


def test_issues_event_pull_fallback(parsed):
    # payload.pull_request used when payload.issue is absent
    r = parsed[101]
    assert r["issue_id"] == 20 and r["issue_number"] == 9
    # but pull_* columns are NOT set for IssuesEvent (parser registry:
    # IssuesEvent -> issuesParser only)
    assert r["pull_merged"] == 0 and r["pull_commits"] == 0


def test_issue_comment(parsed):
    r = parsed[103]
    assert r["issue_comment_id"] == 40
    assert r["body"] == "me too"  # comment.body overrides issue.body
    assert r["issue_comment_author_association"] == "NONE"  # ?? 'NONE'
    assert r["issue_comment_author_login"] == "eve[bot]"


def test_pull_request(parsed):
    r = parsed[104]
    assert r["pull_merged"] == 1 and r["pull_commits"] == 2
    assert r["pull_merge_commit_sha"] == "deadbeef"
    assert r["pull_merged_by_login"] == "dave"
    # first requested reviewer only (app/parser.js:98)
    assert r["pull_requested_reviewer_id"] == 30
    assert r["pull_head_repo_id"] == 555 and r["pull_head_ref"] == "fix"
    assert r["pull_base_ref"] == "main"


def test_pull_review_id_gating(parsed):
    # review.id = 0 -> omitted -> default 0 (app/parser.js:132-134)
    assert parsed[105]["pull_review_id"] == 0
    assert parsed[105]["pull_review_state"] == "approved"
    assert parsed[105]["body"] == ""  # review.body null -> default ''
    # comment.pull_request_review_id = 60 > 0 -> set (app/parser.js:144-146)
    assert parsed[106]["pull_review_id"] == 60
    assert parsed[106]["pull_review_comment_id"] == 50
    # position 0 is falsy -> '' (app/parser.js:150-152)
    assert parsed[106]["pull_review_comment_position"] == ""


def test_push(parsed):
    r = parsed[107]
    assert r["push_id"] == 999 and r["push_size"] == 2
    commits = [c.asDict() for c in r["push_commits"]]
    assert commits[0] == {"name": "bob", "email": "b@x.com", "message": "m1"}
    assert commits[1] == {"name": "", "email": "", "message": ""}


def test_fork_watch(parsed):
    assert parsed[108]["fork_forkee_id"] == 777
    assert parsed[108]["fork_forkee_owner_login"] == "bob"
    assert parsed[109]["type"] == "WatchEvent" and parsed[109]["action"] == "started"


def test_release(parsed):
    r = parsed[110]
    assert r["release_id"] == 880 and r["release_tag_name"] == "v1.0"
    assert r["release_name"] == ""  # null -> ''
    assert r["release_draft"] == 0 and r["release_prerelease"] == 1
    a = r["release_assets"][0].asDict()
    assert a["uploader_login"] == "alice" and a["size"] == 1024


def test_commit_comment(parsed):
    r = parsed[111]
    assert r["commit_comment_id"] == 70 and r["commit_comment_sha"] == "cafe01"
    assert r["commit_comment_position"] == "3" and r["commit_comment_line"] == "12"


def test_partition_column(parsed):
    assert parsed[113]["created_month"] == 201502


@pytest.mark.parametrize("from_api", [0, 1])
def test_projection_py4j_budget(spark, tmp_path, monkeypatch, from_api):
    # the parse layer is constant SQL text: building it for a batch is a
    # handful of py4j round trips, not one per expression node (~16.5k)
    from py4j.clientserver import ClientServerConnection

    path = str(tmp_path / "2015-01-01-15.json.gz")
    write_gz(path, events())
    raw = read_raw(spark, path)
    send = ClientServerConnection.send_command
    calls = 0

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    project_events(raw, from_api=from_api)
    monkeypatch.undo()
    assert 0 < calls <= 300, calls
