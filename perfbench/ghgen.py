"""Seeded GH Archive hour-file generator for the ingest workload.

Each hour file ``yyyy/MM/dd/yyyy-MM-dd-H.json.gz`` holds:

- on-time events, every one stamped inside the file's hour, so
  ``reconcile`` finds each imported hour in the store;
- late events, stamped up to two days before the file's hour (the hours
  start just before a month boundary, so some late events land in the
  previous month's partition);
- re-delivered copies of earlier events, byte-identical lines with the
  same dedup key, so compaction has rows to remove;
- corrupt lines: valid JSON, so the file passes the whole-file validity
  gate, but typed wrongly for the raw event schema, so the permissive
  parse quarantines them and the status reports them as ``importFail``.

Every event type used carries a unique id in the dedup key, so the rows
that survive compaction equal the distinct events generated. The same
seed gives byte-identical files: gzip headers carry no name or time.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

START = datetime(2015, 1, 31, 18, tzinfo=timezone.utc)
TYPES = ("PushEvent", "IssuesEvent", "PullRequestEvent", "IssueCommentEvent")
LATE_SHARE = 0.04
DUP_SHARE = 0.03


@dataclass
class HourFile:
    rel_path: str
    hour: datetime
    lines: list[str]
    late: int = 0
    dups: int = 0
    corrupt: int = 0


@dataclass
class Corpus:
    files: list[HourFile] = field(default_factory=list)

    def distinct_events(self, n_files: int | None = None) -> int:
        """Distinct events in the first ``n_files`` files (copies only
        ever repeat earlier lines)."""
        return sum(len(f.lines) - f.corrupt - f.dups for f in self.files[:n_files])


def rel_path(hour: datetime) -> str:
    """GH Archive layout; the hour is not zero-padded."""
    return (f"{hour.year}/{hour.month:02d}/{hour.day:02d}/"
            f"{hour.year}-{hour.month:02d}-{hour.day:02d}-{hour.hour}.json.gz")


def _stamp(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _event(rng: random.Random, eid: int, created: datetime) -> dict:
    kind = TYPES[eid % len(TYPES)]
    actor = rng.randrange(5000)
    repo = rng.randrange(2000)
    e = {
        "id": str(9_000_000_000 + eid),
        "type": kind,
        "actor": {"id": actor, "login": f"user{actor}"},
        "repo": {"id": repo, "name": f"org{repo % 50}/repo{repo}"},
        "org": {"id": repo % 50, "login": f"org{repo % 50}"},
        "created_at": _stamp(created),
    }
    if kind == "PushEvent":
        e["payload"] = {
            "push_id": eid, "size": 1, "distinct_size": 1,
            "ref": "refs/heads/main", "head": f"{eid:040x}",
            "commits": [{"author": {"name": "a", "email": "a@x"},
                         "message": f"change {eid}"}],
        }
    else:
        issue = {"id": eid, "number": eid % 997, "title": f"issue {eid}",
                 "body": "x" * rng.randrange(20, 120),
                 "user": {"id": actor, "login": f"user{actor}"},
                 "comments": 0, "labels": [{"name": "bug", "color": "f00"}],
                 "created_at": _stamp(created), "updated_at": _stamp(created)}
        if kind == "IssuesEvent":
            e["payload"] = {"action": "opened", "issue": issue}
        elif kind == "PullRequestEvent":
            e["payload"] = {"action": "closed",
                            "pull_request": {**issue, "merged": True}}
        else:
            e["payload"] = {
                "action": "created", "issue": issue,
                "comment": {"id": eid, "body": "lgtm",
                            "user": {"id": actor, "login": f"user{actor}"},
                            "created_at": _stamp(created),
                            "updated_at": _stamp(created)},
            }
    return e


def _corrupt_line(rng: random.Random) -> str:
    # parses as JSON; ``repo.id`` is not a number, so the typed parse fails
    return json.dumps({"id": str(rng.randrange(10**9)), "type": "PushEvent",
                       "repo": {"id": f"r{rng.randrange(10**6)}"}})


def generate(seed: int, n_files: int, events_per_file: int,
             corrupt_per_file: int = 2) -> Corpus:
    """The hour files for one run, in staging order, held in memory."""
    rng = random.Random(seed)
    corpus = Corpus()
    sent: list[str] = []
    eid = 0
    for i in range(n_files):
        hour = START + timedelta(hours=i)
        hf = HourFile(rel_path(hour), hour, [])
        for j in range(events_per_file):
            # the first event of a file is always on time
            r = rng.random() if j else 1.0
            if r < DUP_SHARE and sent:
                hf.lines.append(sent[rng.randrange(len(sent))])
                hf.dups += 1
                continue
            if r < DUP_SHARE + LATE_SHARE:
                created = hour - timedelta(seconds=rng.randrange(1, 48 * 3600))
                hf.late += 1
            else:
                created = hour + timedelta(seconds=rng.randrange(3600))
            line = json.dumps(_event(rng, eid, created), sort_keys=True,
                              separators=(",", ":"))
            eid += 1
            hf.lines.append(line)
            sent.append(line)
        for _ in range(corrupt_per_file):
            hf.lines.insert(rng.randrange(len(hf.lines) + 1), _corrupt_line(rng))
            hf.corrupt += 1
        corpus.files.append(hf)
    return corpus


def write(hf: HourFile, data_dir: str) -> str:
    """Write one hour file under ``data_dir``; byte-identical per seed."""
    path = os.path.join(data_dir, hf.rel_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6) as gz:
        gz.write(("\n".join(hf.lines) + "\n").encode())
    return path
