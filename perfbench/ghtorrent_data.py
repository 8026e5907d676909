"""Seeded synthetic GHTorrent dump set plus a pure-Python model of the
tables the DevMine import must produce from it.

Four entity folders (``users``, ``repos``, ``org_members``,
``repo_collaborators``), one ``YYYY-MM-DD.bson`` file per folder and day.
Ids are re-dumped across days (about two documents per id), so the
newest-wins and extremal windows drop about half the rows.  A small seeded
share of frames is corrupt (bad document terminator) and a small share of
user documents carries an invalid ``type``; both land in the rejects
tables.  Relation documents sometimes name logins or repositories that do
not exist, which the importer rejects as unresolved.

The model follows the importer's documented semantics (newest file date
wins, then the smallest position in the file; an incremental rerun only
adds keys not loaded before and never updates loaded rows) without using
any of its code, so the benchmark can check the program's outputs.
"""

from __future__ import annotations

import datetime as dt
import random
import struct
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

ENTITIES = ("users", "repos", "org_members", "repo_collaborators")
TABLES = (
    "users",
    "gh_users",
    "gh_organizations",
    "repositories",
    "gh_repositories",
    "gh_users_organizations",
    "users_repositories",
)
REJECTS = {
    "users": "rejects_users",
    "repos": "rejects_repos",
    "org_members": "rejects_org_members",
    "repo_collaborators": "rejects_repo_collaborators",
}
BASE_DAY = dt.date(2015, 3, 1)
LANGS = ("Go", "Python", "C", "Rust", "Java", "Ruby")


# --------------------------------------------------------------------------
# BSON framing (the subset GHTorrent dumps use)
# --------------------------------------------------------------------------


def _cstr(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def encode(doc: dict) -> bytes:
    body = bytearray()
    for k, v in doc.items():
        if v is None:
            body += b"\x0a" + _cstr(k)
        elif isinstance(v, bool):
            body += b"\x08" + _cstr(k) + (b"\x01" if v else b"\x00")
        elif isinstance(v, int):
            body += b"\x12" + _cstr(k) + struct.pack("<q", v)
        elif isinstance(v, str):
            sb = _cstr(v)
            body += b"\x02" + _cstr(k) + struct.pack("<i", len(sb)) + sb
        elif isinstance(v, dict):
            body += b"\x03" + _cstr(k) + encode(v)
        else:
            raise TypeError(f"{k}: {type(v).__name__}")
    return struct.pack("<i", len(body) + 5) + bytes(body) + b"\x00"


def corrupt(frame: bytes) -> bytes:
    """Same length, broken terminator: the framing survives, the document
    does not decode."""
    return frame[:-1] + b"\x01"


# --------------------------------------------------------------------------
# Spec and generated documents
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Size:
    users: int
    orgs: int
    repos: int
    members: int
    collabs: int
    days: int  # base days; one more day lands for the incremental rerun
    corrupt_rate: float = 0.004
    bad_type_rate: float = 0.01
    unresolved_rate: float = 0.03


@dataclass
class Doc:
    day: int
    pos: int = -1  # position in its file, assigned when the file is laid out
    fields: dict = field(default_factory=dict)
    corrupt: bool = False


def day_name(day: int) -> str:
    return (BASE_DAY + dt.timedelta(days=day)).isoformat()


def _ts(day: int, sec: int) -> str:
    t = dt.datetime.combine(BASE_DAY, dt.time()) + dt.timedelta(days=day, seconds=sec)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _appearances(rng: random.Random, days: int) -> list[int]:
    """Days an id is dumped on: one to three distinct days, mean about
    two, so newest-wins drops about half the documents."""
    first = rng.randrange(days)
    n = rng.choice((1, 2, 2, 3))
    later = rng.sample(range(first + 1, days), min(n - 1, days - first - 1)) if first + 1 < days else []
    return [first, *later]


class Dataset:
    """Documents for ``size.days + 1`` days, generated from ``seed``."""

    def __init__(self, seed: int, size: Size):
        self.size = size
        rng = random.Random(seed)
        total_days = size.days + 1
        self.docs: dict[str, list[Doc]] = {e: [] for e in ENTITIES}
        users = [f"user{i}" for i in range(size.users)]
        orgs = [f"org{i}" for i in range(size.orgs)]
        for idx, gid in enumerate(range(1, size.users + size.orgs + 1)):
            is_user = idx < size.users
            login = users[idx] if is_user else orgs[idx - size.users]
            base_sec = rng.randrange(86_400)
            for day in _appearances(rng, total_days):
                typ = "User" if is_user else "Organization"
                if rng.random() < size.bad_type_rate:
                    typ = rng.choice(("Bot", "", None))
                self.docs["users"].append(Doc(day, fields={
                    "id": gid,
                    "login": login,
                    "type": typ,
                    "name": f"Name {gid}",
                    "company": rng.choice(("", "acme", "initech", "hooli")),
                    "location": f"city{rng.randrange(500)}",
                    "email": f"{login}@example.org",
                    "bio": f"bio {gid} d{day}",
                    "hireable": rng.random() < 0.3,
                    "followers": rng.randrange(10_000),
                    "following": rng.randrange(1_000),
                    "avatar_url": f"https://avatars/{gid}",
                    "html_url": f"https://github.com/{login}",
                    "created_at": _ts(0, base_sec),
                    "updated_at": _ts(day, base_sec) if rng.random() < 0.9 else "",
                }))

        owners = users + orgs
        self.repo_names: dict[int, str] = {}
        for rid in range(1, size.repos + 1):
            owner = rng.choice(owners)
            name = f"repo{rid}"
            self.repo_names[rid] = f"{owner}/{name}"
            # a few repos carry no language: the finalize filter drops them
            lang = rng.choice(LANGS) if rng.random() > 0.02 else ""
            base_sec = rng.randrange(86_400)
            issues = rng.randrange(total_days, 200)
            for day in _appearances(rng, total_days):
                # newer dumps: later updated/pushed, fewer open issues —
                # the extremal survivor is the newest dump
                self.docs["repos"].append(Doc(day, fields={
                    "id": rid,
                    "name": name,
                    "full_name": f"{owner}/{name}",
                    "owner": {"login": owner, "id": 0},
                    "description": f"desc {rid} d{day}",
                    "homepage": "",
                    "language": lang,
                    "default_branch": "main",
                    "master_branch": "master",
                    "html_url": f"https://github.com/{owner}/{name}",
                    "clone_url": f"https://github.com/{owner}/{name}.git",
                    "fork": rng.random() < 0.2,
                    "forks_count": rng.randrange(500),
                    "open_issues_count": issues - day,
                    "stargazers_count": rng.randrange(5_000),
                    "subscribers_count": rng.randrange(300),
                    "watchers_count": rng.randrange(5_000),
                    "created_at": _ts(0, base_sec),
                    "updated_at": _ts(day, base_sec),
                    "pushed_at": _ts(day, base_sec + 60),
                }))

        for i in range(size.members):
            login = rng.choice(users)
            org = rng.choice(orgs)
            if rng.random() < size.unresolved_rate:
                login = f"ghost{rng.randrange(10**6)}"
            for day in _appearances(rng, total_days):
                self.docs["org_members"].append(Doc(day, fields={
                    "id": i, "login": login, "org": org, "type": "User",
                }))

        for i in range(size.collabs):
            login = rng.choice(users)
            owner, repo = self.repo_names[rng.randrange(1, size.repos + 1)].split("/")
            if rng.random() < size.unresolved_rate:
                repo = f"gone{rng.randrange(10**6)}"
            for day in _appearances(rng, total_days):
                self.docs["repo_collaborators"].append(Doc(day, fields={
                    "id": i, "login": login, "repo": repo, "owner": owner,
                }))

        for docs in self.docs.values():
            for d in docs:
                d.corrupt = rng.random() < size.corrupt_rate
            if not any(d.corrupt for d in docs if d.day < size.days):
                # every entity rejects something, even at toy sizes
                next(d for d in docs if d.day < size.days).corrupt = True
            # file layout: shuffle, then number positions within each day
            rng.shuffle(docs)
            pos: Counter = Counter()
            for d in docs:
                d.pos = pos[d.day]
                pos[d.day] += 1

    def docs_until(self, last_day: int) -> int:
        return sum(1 for v in self.docs.values() for d in v if d.day <= last_day)

    def write(self, root: Path, days: range) -> None:
        """Write one dump file per entity and day in ``days``."""
        for ent, docs in self.docs.items():
            folder = root / ent
            folder.mkdir(parents=True, exist_ok=True)
            by_day: dict[int, list[Doc]] = {}
            for d in docs:
                if d.day in days:
                    by_day.setdefault(d.day, []).append(d)
            for day, ds in by_day.items():
                ds.sort(key=lambda d: d.pos)
                with open(folder / f"{day_name(day)}.bson", "wb") as fh:
                    for d in ds:
                        frame = encode(d.fields)
                        fh.write(corrupt(frame) if d.corrupt else frame)

    def remove_day(self, root: Path, day: int) -> None:
        for ent in ENTITIES:
            (root / ent / f"{day_name(day)}.bson").unlink(missing_ok=True)


# --------------------------------------------------------------------------
# Model of the import
# --------------------------------------------------------------------------


@dataclass
class Expected:
    counts: dict[str, int]
    # github_id -> (login, followers_count, location) of the surviving row
    users: dict[int, tuple]
    # github_id -> (full_name, open_issues_count, description)
    repos: dict[int, tuple]


def _newest_wins(docs: list[Doc]) -> dict[int, Doc]:
    win: dict[int, Doc] = {}
    for d in docs:
        k = d.fields["id"]
        w = win.get(k)
        if w is None or (d.day, -d.pos) > (w.day, -w.pos):
            win[k] = d
    return win


class Model:
    """Expected tables after a fresh run over days ``0..days-1`` and after
    the incremental rerun that adds day ``days``."""

    def __init__(self, ds: Dataset):
        self.ds = ds

    def _state(self, last_day: int):
        docs = {e: [d for d in v if d.day <= last_day] for e, v in self.ds.docs.items()}
        good = {e: [d for d in v if not d.corrupt] for e, v in docs.items()}
        ucorrupt = {e: [d for d in v if d.corrupt] for e, v in docs.items()}
        users = _newest_wins([d for d in good["users"] if d.fields["type"] == "User"])
        orgs = _newest_wins([d for d in good["users"] if d.fields["type"] == "Organization"])
        bad_type = [d for d in good["users"] if d.fields["type"] not in ("User", "Organization")]
        repos = _newest_wins(good["repos"])
        repos = {k: d for k, d in repos.items() if d.fields["language"] != ""}
        return good, ucorrupt, users, orgs, bad_type, repos

    @staticmethod
    def _pairs(good, user_logins, org_logins, repo_names):
        mem, mem_rej = set(), Counter()
        for d in good["org_members"]:
            f = d.fields
            if f["login"] in user_logins and f["org"] in org_logins:
                mem.add((f["login"], f["org"]))
            else:
                mem_rej[(f["login"], f["org"])] += 1
        col, col_rej = set(), Counter()
        for d in good["repo_collaborators"]:
            f = d.fields
            full = f"{f['owner']}/{f['repo']}"
            if f["login"] in user_logins and full in repo_names:
                col.add((f["login"], full))
            else:
                col_rej[(f["login"], full)] += 1
        return mem, mem_rej, col, col_rej

    def expected(self, incremental: bool) -> Expected:
        base = self.ds.size.days - 1
        good0, cor0, users0, orgs0, bad0, repos0 = self._state(base)
        ul0 = {d.fields["login"] for d in users0.values()}
        ol0 = {d.fields["login"] for d in orgs0.values()}
        rn0 = {d.fields["full_name"] for d in repos0.values()}
        mem0, mrej0, col0, crej0 = self._pairs(good0, ul0, ol0, rn0)
        users, orgs, repos = users0, orgs0, repos0
        mem, col = mem0, col0
        mrej, crej = sum(mrej0.values()), sum(crej0.values())
        bad, cor = bad0, cor0
        if incremental:
            good1, cor, users1, orgs1, bad, repos1 = self._state(base + 1)
            # loaded keys keep their loaded rows; only new keys are added
            users = {**users1, **users0}
            orgs = {**orgs1, **orgs0}
            repos = {**repos1, **repos0}
            ul = {d.fields["login"] for d in users.values()}
            ol = {d.fields["login"] for d in orgs.values()}
            rn = {d.fields["full_name"] for d in repos.values()}
            mem1, mrej1, col1, crej1 = self._pairs(good1, ul, ol, rn)
            mem, col = mem0 | mem1, col0 | col1
            # rejects: multiset difference against what is already stored
            mrej += sum((mrej1 - mrej0).values())
            crej += sum((crej1 - crej0).values())
        counts = {
            "users": len(users),
            "gh_users": len(users),
            "gh_organizations": len(orgs),
            "repositories": len(repos),
            "gh_repositories": len(repos),
            "gh_users_organizations": len(mem),
            "users_repositories": len(col),
            "rejects_users": len(bad) + len(cor["users"]),
            "rejects_repos": len(cor["repos"]),
            "rejects_org_members": mrej + len(cor["org_members"]),
            "rejects_repo_collaborators": crej + len(cor["repo_collaborators"]),
        }
        return Expected(
            counts,
            {k: (d.fields["login"], d.fields["followers"], d.fields["location"])
             for k, d in users.items()},
            {k: (d.fields["full_name"], d.fields["open_issues_count"], d.fields["description"])
             for k, d in repos.items()},
        )
