"""GH Archive event parsers (P1-P11) as one constant SQL projection.

The reference flattens ten GitHub event types into one wide row via
hand-written JS parsers (``app/parser.js:13-277``, registry ``:266-277``).
Here each parser is a set of SQL expression strings over a raw frame read
with an *explicit* schema (no inference — a 100 TB scan must never be read
twice to infer types). The strings are built once, by plain Python at
import, into :data:`KEEP` (the row filter) and :data:`PROJECTION` (one
typed, default-filled expression per wide-table column), and the whole
parse layer is ``raw.where(KEEP).selectExpr(*PROJECTION)``: Catalyst sees a
single projection, so column pruning reaches the JSON scan, there is no
union, no shuffle, and no Python in the hot path. Applying the SQL text
costs about one py4j round trip per column per batch, where building the
same projection from ``Column`` objects costs one per expression node
(about 16k); and a string holds no JVM state, so it outlives any
SparkContext or gateway.

Parity notes (semantics copied from the reference, implementation is new):

- Rows whose type has no parser are dropped (``app/importer_worker.js:34``).
- Issue-family events missing both ``payload.issue`` and
  ``payload.pull_request`` are dropped (``app/parser.js:38-40``).
- The issue family reads ``issue ?? pull_request`` at struct level
  (``app/parser.js:36``): every issue field comes from ``payload.issue``
  when that struct is present, even where its field is null.
- JS ``??`` defaults (``'' / 0 / false / 'NONE'``) are replicated partly in
  the per-parser expressions and partly by the ClickHouse implicit
  default-fill (``schema.COLUMN_DEFAULTS`` / ``ARRAY_COLUMNS``, SURVEY 1.2),
  which is folded into each column as
  ``coalesce(try_cast(<expr> AS <type>), <default>)``.
- JS truthiness quirks are preserved: ``review.id > 0`` gates
  ``pull_review_id`` (``app/parser.js:132-134``), ``comment.position`` /
  ``line`` are stringified only when truthy (``app/parser.js:151,251-254``),
  ``action`` only when non-empty (``app/parser.js:24-26``).
- Timestamps normalized to UTC seconds (``app/parser.js:6-11``); session
  timezone must be UTC (see ``session.get_spark``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import ARRAY_COLUMNS, COLUMN_DEFAULTS, EVENT_TYPES, EVENTS_SCHEMA

# --- raw input schema (FIXTURES.md 1; app/parser.js field reads) -------------

_ACTOR = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("login", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("name", T.StringType()),  # push commit author overlap
        T.StructField("email", T.StringType()),
    ]
)

_LABEL = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("color", T.StringType()),
        T.StructField("default", T.BooleanType()),
        T.StructField("description", T.StringType()),
    ]
)

_ISSUE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("number", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("labels", T.ArrayType(_LABEL)),
        T.StructField("user", _ACTOR),
        T.StructField("author_association", T.StringType()),
        T.StructField("assignee", _ACTOR),
        T.StructField("assignees", T.ArrayType(_ACTOR)),
        T.StructField("comments", T.LongType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
        T.StructField("closed_at", T.StringType()),
    ]
)

_PULL = T.StructType(
    list(_ISSUE.fields)
    + [
        T.StructField("commits", T.LongType()),
        T.StructField("additions", T.LongType()),
        T.StructField("deletions", T.LongType()),
        T.StructField("changed_files", T.LongType()),
        T.StructField("merged", T.BooleanType()),
        T.StructField("merge_commit_sha", T.StringType()),
        T.StructField("merged_at", T.StringType()),
        T.StructField("merged_by", _ACTOR),
        T.StructField("review_comments", T.LongType()),
        T.StructField("requested_reviewers", T.ArrayType(_ACTOR)),
        T.StructField(
            "base",
            T.StructType(
                [
                    T.StructField("ref", T.StringType()),
                    T.StructField("sha", T.StringType()),
                    # graph projection reads repo metadata the flat table
                    # does not keep (log_tugraph_importer.ts:252-274)
                    T.StructField(
                        "repo",
                        T.StructType(
                            [
                                T.StructField("id", T.LongType()),
                                T.StructField("language", T.StringType()),
                                T.StructField(
                                    "license",
                                    T.StructType([T.StructField("spdx_id", T.StringType())]),
                                ),
                                T.StructField("description", T.StringType()),
                                T.StructField("default_branch", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "head",
            T.StructType(
                [
                    T.StructField("ref", T.StringType()),
                    T.StructField("sha", T.StringType()),
                    T.StructField(
                        "repo",
                        T.StructType(
                            [
                                T.StructField("id", T.LongType()),
                                T.StructField("full_name", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)

# comment struct is shared by IssueComment / PRReviewComment / CommitComment.
_COMMENT = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("body", T.StringType()),
        T.StructField("user", _ACTOR),
        T.StructField("author_association", T.StringType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
        T.StructField("pull_request_review_id", T.LongType()),
        T.StructField("path", T.StringType()),
        T.StructField("position", T.LongType()),
        T.StructField("line", T.LongType()),
        T.StructField("start_line", T.LongType()),
        T.StructField("commit_id", T.StringType()),
    ]
)

_RELEASE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("tag_name", T.StringType()),
        T.StructField("target_commitish", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("draft", T.BooleanType()),
        T.StructField("prerelease", T.BooleanType()),
        T.StructField("author", _ACTOR),
        T.StructField("created_at", T.StringType()),
        T.StructField("published_at", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField(
            "assets",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("uploader", _ACTOR),
                        T.StructField("content_type", T.StringType()),
                        T.StructField("state", T.StringType()),
                        T.StructField("size", T.LongType()),
                        T.StructField("download_count", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)

_PAYLOAD = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("issue", _ISSUE),
        T.StructField("pull_request", _PULL),
        T.StructField("comment", _COMMENT),
        T.StructField(
            "review",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("body", T.StringType()),
                    T.StructField("state", T.StringType()),
                    T.StructField("author_association", T.StringType()),
                ]
            ),
        ),
        T.StructField("push_id", T.LongType()),
        T.StructField("size", T.LongType()),
        T.StructField("distinct_size", T.LongType()),
        T.StructField("ref", T.StringType()),
        T.StructField("head", T.StringType()),
        T.StructField(
            "commits",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("author", _ACTOR),
                        T.StructField("message", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "forkee",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("full_name", T.StringType()),
                    T.StructField("owner", _ACTOR),
                ]
            ),
        ),
        T.StructField("release", _RELEASE),
    ]
)

RAW_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("actor", _ACTOR),
        T.StructField("repo", T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
        )),
        T.StructField("org", T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("login", T.StringType())]
        )),
        T.StructField("payload", _PAYLOAD),
        T.StructField("created_at", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

ISSUE_FAMILY = (
    "IssuesEvent",
    "IssueCommentEvent",
    "PullRequestEvent",
    "PullRequestReviewEvent",
    "PullRequestReviewCommentEvent",
)
PULL_FAMILY = (
    "PullRequestEvent",
    "PullRequestReviewEvent",
    "PullRequestReviewCommentEvent",
)


def read_raw(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S3/S4: tolerant NDJSON(.gz) scan.

    One gzip file = one non-splittable input split = one task, matching the
    reference's file-granularity parallelism (``app/importer_worker.js``).
    PERMISSIVE mode + ``_corrupt_record`` replicates the per-line skip of
    ``app/importer_worker.js:36-38``.
    """
    return (
        spark.read.schema(RAW_EVENT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(paths)
    )


def _sql_type(dt: T.DataType) -> str:
    """DDL text of ``dt``; struct field names are quoted (``default``)."""
    if isinstance(dt, T.StructType):
        fields = ",".join(f"`{f.name}`:{_sql_type(f.dataType)}" for f in dt.fields)
        return f"struct<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    return dt.simpleString()


def _lit(v: str | int) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


def _is_type(types: tuple[str, ...] | str) -> str:
    types = (types,) if isinstance(types, str) else types
    return f"type IN ({', '.join(map(_lit, types))})"


def _when_type(types: tuple[str, ...] | str, expr: str) -> str:
    return f"CASE WHEN {_is_type(types)} THEN {expr} END"


def _ts(expr: str) -> str:
    """P13: UTC timestamp normalization (app/parser.js:6-11)."""
    return f"to_timestamp({expr})"


def _issue(field: str) -> str:
    """issuesParser coalesce (app/parser.js:36): ``issue ?? pull_request``,
    decided on the struct, so a present issue with a null field stays null."""
    return (
        f"CASE WHEN payload.issue IS NOT NULL THEN payload.issue.{field} "
        f"ELSE payload.pull_request.{field} END"
    )


def _or_empty(expr: str, dt: T.DataType) -> str:
    return f"coalesce({expr}, CAST(array() AS {_sql_type(dt)}))"


def _transform(array: str, var: str, fields: dict[str, str]) -> str:
    body = ", ".join(f"{_lit(n)}, {e}" for n, e in fields.items())
    return f"transform({array}, {var} -> named_struct({body}))"


def _column_sql() -> dict[str, str]:
    """All wide-table columns as SQL over the raw envelope, before typing.

    One entry per events-table column; families gated on ``type`` so the
    whole parse layer stays a single whole-stage-codegen projection.
    """
    comment = "payload.comment"
    review = "payload.review"
    pull = "payload.pull_request"
    release = "payload.release"
    forkee = "payload.forkee"

    cols: dict[str, str] = {}

    # P1 commonParser (app/parser.js:13-32)
    cols["id"] = "CAST(id AS bigint)"
    cols["platform"] = "'GitHub'"
    cols["type"] = "type"
    cols["action"] = "payload.action"
    cols["actor_id"] = "actor.id"
    cols["actor_login"] = "actor.login"
    cols["repo_id"] = "repo.id"
    cols["repo_name"] = "repo.name"
    cols["org_id"] = "org.id"
    cols["org_login"] = "org.login"
    cols["created_at"] = _ts("created_at")

    # P2 issuesParser (app/parser.js:34-79) — shared by the issue family
    fam = ISSUE_FAMILY
    cols["issue_id"] = _when_type(fam, _issue("id"))
    cols["issue_number"] = _when_type(fam, f"try_cast({_issue('number')} AS int)")
    cols["issue_title"] = _when_type(fam, _issue("title"))
    cols["issue_labels"] = _when_type(fam, _transform(
        _or_empty(_issue("labels"), _ISSUE["labels"].dataType), "l", {
            "name": "coalesce(l.name, '')",
            "color": "coalesce(l.color, '')",
            "default": "try_cast(coalesce(l.`default`, false) AS int)",
            "description": "coalesce(l.description, '')",
        }))
    cols["issue_author_id"] = _when_type(fam, _issue("user.id"))
    cols["issue_author_login"] = _when_type(fam, _issue("user.login"))
    cols["issue_author_type"] = _when_type(fam, _issue("user.type"))
    cols["issue_author_association"] = _when_type(
        fam, f"coalesce({_issue('author_association')}, 'NONE')"
    )
    cols["issue_assignee_id"] = _when_type(fam, _issue("assignee.id"))
    cols["issue_assignee_login"] = _when_type(fam, _issue("assignee.login"))
    cols["issue_assignees"] = _when_type(fam, _transform(
        _or_empty(_issue("assignees"), _ISSUE["assignees"].dataType), "a", {
            "login": "coalesce(a.login, '')",
            "id": "coalesce(a.id, 0)",
        }))
    cols["issue_comments"] = _when_type(
        fam, f"try_cast(coalesce({_issue('comments')}, 0) AS int)"
    )
    cols["issue_created_at"] = _when_type(fam, _ts(_issue("created_at")))
    cols["issue_updated_at"] = _when_type(fam, _ts(_issue("updated_at")))
    cols["issue_closed_at"] = _when_type(fam, _ts(_issue("closed_at")))
    # issue_closed_by_pull_request_numbers: declared in FieldMap
    # (app/utils.ts:61) but never populated by the log parsers.
    cols["issue_closed_by_pull_request_numbers"] = (
        f"CAST(NULL AS {_sql_type(EVENTS_SCHEMA['issue_closed_by_pull_request_numbers'].dataType)})"
    )

    # body: written by five parsers with per-type sources
    # (app/parser.js:44,86,131,160,244)
    cols["body"] = (
        "CASE"
        f" WHEN type = 'IssuesEvent' THEN coalesce({_issue('body')}, '')"
        f" WHEN type = 'PullRequestEvent' THEN coalesce({_issue('body')}, '')"
        f" WHEN type = 'IssueCommentEvent' THEN {comment}.body"
        f" WHEN type = 'PullRequestReviewEvent' THEN {review}.body"
        f" WHEN type = 'PullRequestReviewCommentEvent' THEN {comment}.body"
        f" WHEN type = 'CommitCommentEvent' THEN coalesce({comment}.body, '')"
        " END"
    )

    # P3 issueCommentParser (app/parser.js:81-93)
    t = "IssueCommentEvent"
    cols["issue_comment_id"] = _when_type(t, f"{comment}.id")
    cols["issue_comment_created_at"] = _when_type(t, _ts(f"{comment}.created_at"))
    cols["issue_comment_updated_at"] = _when_type(t, _ts(f"{comment}.updated_at"))
    cols["issue_comment_author_id"] = _when_type(t, f"{comment}.user.id")
    cols["issue_comment_author_login"] = _when_type(t, f"{comment}.user.login")
    cols["issue_comment_author_type"] = _when_type(t, f"{comment}.user.type")
    cols["issue_comment_author_association"] = _when_type(
        t, f"coalesce({comment}.author_association, 'NONE')"
    )

    # P4 pullRequestParser (app/parser.js:95-126) — pull family
    pf = PULL_FAMILY
    for col, field in (("pull_commits", "commits"), ("pull_additions", "additions"),
                       ("pull_deletions", "deletions"),
                       ("pull_changed_files", "changed_files")):
        cols[col] = _when_type(pf, f"try_cast(coalesce({pull}.{field}, 0) AS int)")
    cols["pull_merged"] = _when_type(pf, f"try_cast(coalesce({pull}.merged, false) AS int)")
    cols["pull_merge_commit_sha"] = _when_type(pf, f"coalesce({pull}.merge_commit_sha, '')")
    cols["pull_merged_at"] = _when_type(pf, _ts(f"{pull}.merged_at"))
    cols["pull_merged_by_id"] = _when_type(pf, f"{pull}.merged_by.id")
    cols["pull_merged_by_login"] = _when_type(pf, f"{pull}.merged_by.login")
    cols["pull_merged_by_type"] = _when_type(pf, f"{pull}.merged_by.type")
    # first requested reviewer only (app/parser.js:98)
    reviewer = f"element_at({pull}.requested_reviewers, 1)"
    cols["pull_requested_reviewer_id"] = _when_type(pf, f"{reviewer}.id")
    cols["pull_requested_reviewer_login"] = _when_type(pf, f"{reviewer}.login")
    cols["pull_requested_reviewer_type"] = _when_type(pf, f"{reviewer}.type")
    cols["pull_review_comments"] = _when_type(
        pf, f"try_cast(coalesce({pull}.review_comments, 0) AS int)"
    )
    cols["pull_base_ref"] = _when_type(pf, f"{pull}.base.ref")
    cols["pull_head_repo_id"] = _when_type(pf, f"coalesce({pull}.head.repo.id, 0)")
    cols["pull_head_repo_name"] = _when_type(pf, f"coalesce({pull}.head.repo.full_name, '')")
    cols["pull_head_ref"] = _when_type(pf, f"{pull}.head.ref")

    # P5 pullRequestReviewParser (app/parser.js:128-138): review.id gated >0
    # P6 pullRequestReviewCommentParser (:140-167): comment.pull_request_review_id gated >0
    cols["pull_review_id"] = (
        "CASE"
        f" WHEN type = 'PullRequestReviewEvent' AND {review}.id > 0 THEN {review}.id"
        f" WHEN type = 'PullRequestReviewCommentEvent'"
        f" AND {comment}.pull_request_review_id > 0"
        f" THEN {comment}.pull_request_review_id"
        " END"
    )
    cols["pull_review_state"] = _when_type("PullRequestReviewEvent", f"{review}.state")
    cols["pull_review_author_association"] = _when_type(
        "PullRequestReviewEvent", f"coalesce({review}.author_association, 'NONE')"
    )
    t = "PullRequestReviewCommentEvent"
    cols["pull_review_comment_id"] = _when_type(t, f"{comment}.id")
    cols["pull_review_comment_path"] = _when_type(t, f"{comment}.path")
    # JS truthiness: position 0 is omitted -> '' (app/parser.js:150-152)
    cols["pull_review_comment_position"] = _when_type(
        t, f"CASE WHEN {comment}.position > 0 THEN CAST({comment}.position AS string) END"
    )
    cols["pull_review_comment_author_id"] = _when_type(t, f"{comment}.user.id")
    cols["pull_review_comment_author_login"] = _when_type(t, f"{comment}.user.login")
    cols["pull_review_comment_author_type"] = _when_type(t, f"{comment}.user.type")
    cols["pull_review_comment_author_association"] = _when_type(
        t, f"coalesce({comment}.author_association, 'NONE')"
    )
    cols["pull_review_comment_created_at"] = _when_type(t, _ts(f"{comment}.created_at"))
    cols["pull_review_comment_updated_at"] = _when_type(t, _ts(f"{comment}.updated_at"))

    # P7 pushParser (app/parser.js:169-183)
    t = "PushEvent"
    cols["push_id"] = _when_type(t, "payload.push_id")
    cols["push_size"] = _when_type(t, "try_cast(payload.size AS int)")
    cols["push_distinct_size"] = _when_type(t, "try_cast(payload.distinct_size AS int)")
    cols["push_ref"] = _when_type(t, "payload.ref")
    cols["push_head"] = _when_type(t, "payload.head")
    cols["push_commits"] = _when_type(t, _transform(
        _or_empty("payload.commits", _PAYLOAD["commits"].dataType), "c", {
            "name": "coalesce(c.author.name, '')",
            "email": "coalesce(c.author.email, '')",
            "message": "coalesce(c.message, '')",
        }))

    # P8 forkParser (app/parser.js:185-196)
    t = "ForkEvent"
    cols["fork_forkee_id"] = _when_type(t, f"{forkee}.id")
    cols["fork_forkee_full_name"] = _when_type(t, f"{forkee}.full_name")
    cols["fork_forkee_owner_id"] = _when_type(t, f"{forkee}.owner.id")
    cols["fork_forkee_owner_login"] = _when_type(t, f"{forkee}.owner.login")
    cols["fork_forkee_owner_type"] = _when_type(t, f"{forkee}.owner.type")

    # P9 watchParser (app/parser.js:198-200): envelope only — nothing extra.

    # P10 releaseParser (app/parser.js:202-234)
    t = "ReleaseEvent"
    cols["release_id"] = _when_type(t, f"{release}.id")
    cols["release_tag_name"] = _when_type(t, f"coalesce({release}.tag_name, '')")
    cols["release_target_commitish"] = _when_type(t, f"{release}.target_commitish")
    cols["release_name"] = _when_type(t, f"coalesce({release}.name, '')")
    cols["release_draft"] = _when_type(t, f"try_cast({release}.draft AS int)")
    cols["release_author_id"] = _when_type(t, f"{release}.author.id")
    cols["release_author_login"] = _when_type(t, f"{release}.author.login")
    cols["release_author_type"] = _when_type(t, f"{release}.author.type")
    cols["release_prerelease"] = _when_type(t, f"try_cast({release}.prerelease AS int)")
    cols["release_created_at"] = _when_type(t, _ts(f"{release}.created_at"))
    cols["release_published_at"] = _when_type(t, _ts(f"{release}.published_at"))
    cols["release_body"] = _when_type(t, f"coalesce({release}.body, '')")
    cols["release_assets"] = _when_type(t, _transform(
        _or_empty(f"{release}.assets", _RELEASE["assets"].dataType), "a", {
            "name": "coalesce(a.name, '')",
            "uploader_login": "coalesce(a.uploader.login, '')",
            "uploader_id": "coalesce(a.uploader.id, 0)",
            "content_type": "coalesce(a.content_type, '')",
            "state": "coalesce(a.state, '')",
            "size": "coalesce(a.size, 0)",
            "download_count": "try_cast(coalesce(a.download_count, 0) AS int)",
        }))

    # P11 commitCommentParser (app/parser.js:236-264)
    t = "CommitCommentEvent"
    cols["commit_comment_id"] = _when_type(t, f"{comment}.id")
    cols["commit_comment_author_id"] = _when_type(t, f"{comment}.user.id")
    cols["commit_comment_author_login"] = _when_type(t, f"{comment}.user.login")
    cols["commit_comment_author_type"] = _when_type(t, f"{comment}.user.type")
    cols["commit_comment_author_association"] = _when_type(
        t, f"coalesce({comment}.author_association, 'NONE')"
    )
    cols["commit_comment_path"] = _when_type(t, f"{comment}.path")
    cols["commit_comment_position"] = _when_type(
        t, f"CASE WHEN {comment}.position > 0 THEN CAST({comment}.position AS string) END"
    )
    cols["commit_comment_line"] = _when_type(
        t, f"CASE WHEN {comment}.line > 0 THEN CAST({comment}.line AS string) END"
    )
    cols["commit_comment_sha"] = _when_type(t, f"{comment}.commit_id")
    cols["commit_comment_created_at"] = _when_type(t, _ts(f"{comment}.created_at"))
    cols["commit_comment_updated_at"] = _when_type(t, _ts(f"{comment}.updated_at"))

    cols["from_api"] = "0"  # log-sourced (app/importer_worker.js:35)
    return cols


def _typed(field: T.StructField, expr: str) -> str:
    """``expr`` cast to the column type with the ClickHouse default folded in.

    try_cast: a malformed record (e.g. out-of-int-range number) nulls the
    field (then default-fills) instead of killing the task under ANSI mode
    — per-line tolerance like the reference.
    """
    sql = f"try_cast({expr} AS {_sql_type(field.dataType)})"
    if field.name in COLUMN_DEFAULTS:
        sql = f"coalesce({sql}, {_lit(COLUMN_DEFAULTS[field.name])})"
    elif field.name in ARRAY_COLUMNS:
        # from_json, not CAST(array() ...): it is nullable, so the column
        # keeps the nullable schema that schema.fill_defaults gives Gitee rows
        sql = f"coalesce({sql}, from_json('[]', {_lit(_sql_type(field.dataType))}))"
    return f"{sql} AS {field.name}"


#: rows the parse layer keeps: S4 tolerant parse skips bad lines, P12
#: event-type filter, and issue-family rows need an issue or a pull request
#: (app/parser.js:38-40)
KEEP = (
    f"_corrupt_record IS NULL AND {_is_type(EVENT_TYPES)}"
    f" AND NOT ({_is_type(ISSUE_FAMILY)}"
    " AND payload.issue IS NULL AND payload.pull_request IS NULL)"
)

_COLUMNS = _column_sql()
#: partition column: toYYYYMM(created_at) (app/service/log_importer.ts:124),
#: over the raw envelope
CREATED_MONTH = (
    f"try_cast(date_format(try_cast({_COLUMNS['created_at']} AS timestamp), 'yyyyMM') AS int)"
)
#: the wide events frame: every EVENTS_SCHEMA column, then created_month
PROJECTION: tuple[str, ...] = (
    *(_typed(f, _COLUMNS[f.name]) for f in EVENTS_SCHEMA.fields),
    f"{CREATED_MONTH} AS created_month",
)
_FROM_API = EVENTS_SCHEMA.fieldNames().index("from_api")


def project_events(raw: DataFrame, from_api: int = 0) -> DataFrame:
    """The full parse layer: raw envelope -> wide events frame.

    One filter and one projection; equivalent of the reference's per-line
    ``ParseFuncMap.get(type)(item)`` loop (``app/importer_worker.js:31-40``)
    but columnar, codegen'd, and parallel per input file. ``from_api``
    swaps only the version literal (1 for API-sourced rows).
    """
    projection = PROJECTION
    if from_api:
        api = _typed(EVENTS_SCHEMA["from_api"], _lit(from_api))
        projection = (*PROJECTION[:_FROM_API], api, *PROJECTION[_FROM_API + 1:])
    return raw.where(KEEP).selectExpr(*projection)
