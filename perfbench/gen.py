"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes (``random.Random``
seeded with a string, so ``PYTHONHASHSEED`` does not matter) and returns the
inputs together with the ground truth it injected. The edge cases follow
``FIXTURES.md``: boolean-ish spellings, blank/whitespace required fields,
duplicate emails, both project header spellings, dangling netids, unchanged
and changed resubmissions. Nothing here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

SLOTS = [f"Slot {i:02d} (GMT-0600)" for i in range(1, 31)]
DAY_CELLS = (
    "Monday, Wednesday", "monday,wednesday", "", None, " Friday ", "Funday",
    "Tuesday, Thursday", "saturday", "Sunday, Funday", "",
)
BOOLISH = ("Yes", "yes", "TRUE", "1", "No", "false", "0", "", "maybe")
ROLES = ("NC", "SC", "PM", "SM", "EM")  # the Postgres CHECK accepts these
# injection rates
INVALID_SHARE = 0.03  # roster rows with a blank required field
DUP_SHARE = 0.03  # roster rows repeating an earlier row's email
UPDATE_SHARE = 0.3  # roster rows updating a base user
VIOLATE_SHARE = 0.01  # new users with a role code the Postgres CHECK rejects
JUNK_SHARE = 0.04  # documents the quality gate drops
EXACT_SHARE = 0.05  # exact copies of a good document
NEAR_SHARE = 0.05  # near-duplicate edits of a good document
N_EVENT_USERS = 2000
REDELIVER_SHARE = 0.05  # events repeating an earlier event id
LATE_SHARE = 0.01  # events behind the watermark
REQUIRED_HEADERS = ("Name", "Email", "Current Role", "NetID", "Major")
MISSING_SPELLINGS = (None, "", "   ")
FIRST = ("Ana", "Ben", "Chen", "Dara", "Eli", "Fatima", "Gus", "Hana", "Ivan", "Jo")
LAST = ("Ng", "Okafor", "Patel", "Quinn", "Rossi", "Silva", "Tran", "Ueda", "Vega")
MAJORS = ("CS", "Econ", "Math", "Bio", "History", "ECE", "Stats")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EPOCH = dt.datetime(2024, 1, 1)


def rng(seed: int, *parts: object) -> random.Random:
    return random.Random(":".join(str(p) for p in (seed, *parts)))


# ---------------------------------------------------------------- semester


@dataclass
class BaseState:
    """Last semester's sink state, as plain rows in the sink schemas."""

    users: list[dict]
    consultants: list[dict]
    projects: list[dict]


@dataclass
class CycleInput:
    roster: list[dict]
    projects_sheet: list[dict]
    truth: dict = field(default_factory=dict)


def base_state(seed: int, n_users: int, n_projects: int) -> BaseState:
    r = rng(seed, "base")
    users, consultants = [], []
    for i in range(n_users):
        uid = 10_000_000 + i
        users.append({
            "user_id": uid, "name": f"{r.choice(FIRST)} {r.choice(LAST)}",
            "email": f"user{i}@base.edu", "gender": r.choice(("F", "M", "NB")),
            "race": f"r{r.randrange(5)}", "us_citizen": r.random() < 0.7,
            "residency": r.random() < 0.5, "first_gen": r.random() < 0.3,
            "curr_role": r.choice(ROLES), "netid": f"b{i:06d}",
        })
        consultants.append({
            "user_id": uid, "year": "Junior", "major": r.choice(MAJORS), "minor": None,
            "college": "Eng", "consultants_score": str(r.randrange(10)),
            "semesters_in_ibc": r.randrange(8), "time_zone": "GMT-0600",
            "willing_to_travel": "yes", "industry_interests": "tech, health",
            "functional_area_interests": "strategy", "status": "returning",
            "week_before_finals_availability": r.random() < 0.5,
            **{f"availability_{d}": "".join(r.choice("01") for _ in range(30))
               for d in ("mon", "tue", "wed", "thu", "fri", "sat", "sun")},
        })
    projects = []
    for j in range(n_projects):
        ids = [users[r.randrange(n_users)]["user_id"] for _ in range(5)]
        projects.append({
            "project_id": 50_000_000 + j, "project_name": f"Base Project {j}",
            "project_semester": "FA25", "client_name": f"Client {j % 97}",
            "em_id": ids[0], "sm_id": ids[1], "pm_id": ids[2], "sc1_id": ids[3],
            "sc2_id": ids[4],
        })
    return BaseState(users, consultants, projects)


def _roster_row(r: random.Random, email: str, netid: str, semesters: str) -> dict:
    row = {
        "Name": f"{r.choice(FIRST)} {r.choice(LAST)}", "Email": email,
        "Gender": r.choice(("F", "M", "NB", "")), "Race": f"r{r.randrange(5)}",
        "US Citizen": r.choice(BOOLISH), "Residency": r.choice(BOOLISH),
        "First Generation": r.choice(BOOLISH), "Current Role": r.choice(ROLES),
        "NetID": netid, "Year": r.choice(("Sophomore", "Junior", "2027")),
        "Major": r.choice(MAJORS), "Minor": r.choice(("", "Math", None)),
        "College": "Eng", "Consultant Score": str(r.randrange(10)),
        "Semesters in IBC": semesters, "Time Zone": "GMT-0600",
        "Willing to Travel": r.choice(("yes", "no", "")),
        "Industry Interests": "tech, health", "Functional Area Interests": "strategy",
        "Status": r.choice(("New", "returning", "Deferred")),
        "Week Before Finals Availability": r.choice(BOOLISH),
    }
    for s in SLOTS:
        row[s] = r.choice(DAY_CELLS)
    return row


def cycle_input(
    seed: int,
    cycle: int,
    base: BaseState,
    *,
    n_roster: int,
    n_projects: int,
) -> CycleInput:
    """One semester: a roster sheet run by E1 against ``base``, then a
    projects sheet run by E2 against E1's output. ``truth`` holds every
    count the pipelines must reproduce."""
    r = rng(seed, "cycle", cycle)
    n_base = len(base.users)
    # semesters per user email after E1 (base values, overwritten in order)
    semesters = {
        u["email"]: c["semesters_in_ibc"] for u, c in zip(base.users, base.consultants)
    }
    email_to_netid = {u["email"]: u["netid"] for u in base.users}
    roster: list[dict] = []
    valid_rows: list[int] = []  # positions of valid rows (dup sources)
    n_invalid = n_dup = 0
    new_users: dict[str, str] = {}  # email -> netid of valid new users
    role_final: dict[str, str] = {}  # email -> curr_role of its last valid row
    update_pool = r.sample(range(n_base), min(n_base, int(n_roster * UPDATE_SHARE)))
    for i in range(n_roster):
        sem = str(r.randrange(9))
        if i > 0 and valid_rows and r.random() < DUP_SHARE:
            # duplicate email of an earlier valid row: later row wins
            src = roster[r.choice(valid_rows)]
            row = _roster_row(r, src["Email"], src["NetID"], sem)
            roster.append(row)
            role_final[row["Email"]] = row["Current Role"]
            n_dup += 1
            semesters[row["Email"]] = int(sem)
            continue
        if r.random() < INVALID_SHARE:
            row = _roster_row(r, f"bad{cycle}.{i}@ibc.edu", f"x{cycle:02d}{i:06d}", sem)
            row[r.choice(REQUIRED_HEADERS)] = r.choice(MISSING_SPELLINGS)
            roster.append(row)
            n_invalid += 1
            continue
        if update_pool and r.random() < UPDATE_SHARE:
            u = base.users[update_pool.pop()]
            email, netid = u["email"], u["netid"]
        else:
            email = f"s{cycle}.{i}@ibc.edu"
            if r.random() < 0.1:
                email = email.capitalize()  # mixed case, still unique
            netid = f"n{cycle:02d}{i:06d}"
            new_users[email] = netid
        row = _roster_row(r, email, netid, sem)
        if email in new_users and r.random() < VIOLATE_SHARE:
            # a role code the Postgres CHECK constraint rejects: E1 accepts
            # the row, the sink must quarantine it
            row["Current Role"] = "XX"
        role_final[email] = row["Current Role"]
        valid_rows.append(len(roster))
        roster.append(row)
        semesters[email] = int(sem)
        email_to_netid[email] = netid
    n_valid = n_roster - n_invalid - n_dup
    n_users_after = n_base + len(new_users)

    sheet, ptruth = _projects_sheet(
        r, cycle, base, list(email_to_netid.values()), n_projects
    )
    truth = {
        "e1.valid_rows": n_valid,
        "e1.invalid_rows": n_invalid,
        "e1.users": n_users_after,
        "e1.consultants": n_users_after,
        "pg.violators": sorted(e for e, role in role_final.items() if role == "XX"),
        **ptruth,
        "e3.updated_rows": n_users_after,
        "e3.semesters_sum": sum(semesters.values()) + n_users_after,
    }
    return CycleInput(roster=roster, projects_sheet=sheet, truth=truth)


_HUMAN = {
    "project_name": "Project Name", "project_semester": "Semester",
    "client_name": "Client Name",
}
_HUMAN_ROLE = {
    "em_netid": ("EM net-id", "EM NetID"), "sm_netid": ("SM net-id", "SM NetID"),
    "pm_netid": ("PM net-id", "PM NetID"),
    "sc1_netid": ("SC1 net-id", "SC 1 net-id", "SC 1 NetID"),
    "sc2_netid": ("SC2 net-id", "SC 2 net-id", "SC 2 NetID"),
}
ROLE_KEYS = tuple(_HUMAN_ROLE)


def _spell(r: random.Random, canon: dict) -> dict:
    """Render a canonical project row under normalized or human headers."""
    if r.random() < 0.5:
        return dict(canon)
    out = {}
    for k, v in canon.items():
        if k in _HUMAN:
            out[_HUMAN[k]] = v
        elif k in _HUMAN_ROLE:
            out[r.choice(_HUMAN_ROLE[k])] = v
        else:
            out[k] = v
    return out


def _projects_sheet(
    r: random.Random, cycle: int, base: BaseState, netids: list[str], n: int
) -> tuple[list[dict], dict]:
    id_to_netid = {u["user_id"]: u["netid"] for u in base.users}
    rows: list[dict] = []
    n_missing = n_dangling = n_unchanged = n_changed = 0
    new_last: dict[str, dict] = {}  # new project name -> last good canon row
    resubmitted: set[str] = set()
    pool = r.sample(range(len(base.projects)), min(len(base.projects), n // 4))
    for i in range(n):
        roll = r.random()
        if roll < 0.02:
            canon = {"project_name": r.choice(MISSING_SPELLINGS), "project_semester": "SP26",
                     **{k: r.choice(netids) for k in ROLE_KEYS}}
            n_missing += 1
        elif roll < 0.05:
            canon = {"project_name": f"Dangling {cycle}.{i}", "project_semester": "SP26",
                     **{k: r.choice(netids) for k in ROLE_KEYS}}
            canon[r.choice(ROLE_KEYS)] = f"ghost{i:05d}"
            n_dangling += 1
        elif roll < 0.25 and pool:
            p = base.projects[pool.pop()]
            canon = {"project_name": p["project_name"],
                     "project_semester": p["project_semester"],
                     "client_name": p["client_name"],
                     **{k: id_to_netid[p[k.replace("_netid", "_id")]] for k in ROLE_KEYS}}
            if r.random() < 0.5:
                role = r.choice(ROLE_KEYS)
                canon[role] = r.choice([x for x in r.sample(netids, 2) if x != canon[role]])
                n_changed += 1
            else:
                n_unchanged += 1
            resubmitted.add(p["project_name"])
        elif roll < 0.27 and new_last:
            # same new project resubmitted within the sheet: last row wins
            name = r.choice(sorted(new_last))
            canon = {"project_name": name, "project_semester": "SP26",
                     **{k: r.choice(netids) for k in ROLE_KEYS}}
            new_last[name] = canon
        else:
            canon = {"project_name": f"Project {cycle}.{i}", "project_semester": "SP26",
                     "client_name": f"Client {i % 53}",
                     **{k: (None if r.random() < 0.15 else r.choice(netids))
                        for k in ROLE_KEYS}}
            if r.random() < 0.05:  # same netid in two roles
                canon["sc2_netid"] = canon["sc1_netid"]
            new_last[canon["project_name"]] = canon
        if r.random() < 0.1:
            canon["Notes"] = "extra key"
        rows.append(_spell(r, canon))
    links = sum(
        1 for c in new_last.values() for k in ROLE_KEYS if c.get(k) is not None
    )
    truth = {
        "e2.valid_rows": len(new_last) + len(resubmitted),
        "e2.invalid_rows": n_missing + n_dangling,
        "e2.dangling_rows": n_dangling,
        "e2.links": links,
        "e2.projects": len(base.projects) + len(new_last),
        "e2.changed_resubmissions": n_changed,
        "e2.unchanged_resubmissions": n_unchanged,
    }
    return rows, truth


# ------------------------------------------------------------ corpus_dedup

STOPWORDS = ("the", "of", "and", "to", "in", "is", "a")


def _vocab(r: random.Random, n: int) -> list[str]:
    syll = ("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "zo", "da", "gu")
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(r.choice(syll) for _ in range(r.randint(2, 4))))
    return sorted(words)


@dataclass
class Corpus:
    rows: list[dict]  # doc_id, text, lang, source, n_chars
    neardup_pairs: list[tuple[int, int]]
    truth: dict


def corpus(seed: int, n_docs: int) -> Corpus:
    """Documents shaped like the ``documents`` table. Junk (too short, or
    stopword-free) fails the quality gate; exact copies and near-duplicate
    edits of good originals are injected at known rates."""
    r = rng(seed, "corpus")
    vocab = _vocab(r, 3000)
    weights = [1.0 / (k + 1) for k in range(len(vocab))]
    sw_weights = [0.5, 0.4, 0.3, 0.3, 0.2, 0.2, 0.1]
    words = list(STOPWORDS) + vocab
    all_w = sw_weights + weights

    def text(n_tok: int) -> str:
        toks = r.choices(words, all_w, k=n_tok)
        # at least 10% stopwords, so edits never push a good document
        # under the 5% quality gate
        for k in range(n_tok // 10):
            toks[k * 10] = STOPWORDS[k % len(STOPWORDS)]
        return " ".join(toks)

    rows: list[dict] = []
    originals: list[int] = []  # doc ids of good, unique originals
    pairs: list[tuple[int, int]] = []
    n_junk = n_exact = 0
    for doc_id in range(n_docs):
        roll = r.random()
        if roll < JUNK_SHARE:
            t = text(r.randint(3, 12)) if r.random() < 0.5 else " ".join(
                r.choices(vocab, k=r.randint(40, 80)))
            n_junk += 1
        elif roll < JUNK_SHARE + EXACT_SHARE and originals:
            t = rows[r.choice(originals)]["text"]
            n_exact += 1
        elif roll < JUNK_SHARE + EXACT_SHARE + NEAR_SHARE and originals:
            src = r.choice(originals)
            toks = rows[src]["text"].split(" ")
            for _ in range(max(1, len(toks) // 30)):
                toks[r.randrange(len(toks))] = r.choice(vocab)
            t = " ".join(toks)
            if t == rows[src]["text"]:
                toks[0] = toks[0] + "x"
                t = " ".join(toks)
            pairs.append((src, doc_id))
        else:
            t = text(r.randint(60, 140))
            originals.append(doc_id)
        rows.append({"doc_id": doc_id, "text": t, "lang": "en",
                     "source": f"src{doc_id % 7}", "n_chars": len(t)})
    gated = n_docs - n_junk
    truth = {
        "docs": n_docs,
        "gated": gated,
        "exact_kept": gated - n_exact,
        "neardup_pairs": len(pairs),
    }
    return Corpus(rows=rows, neardup_pairs=pairs, truth=truth)


# ------------------------------------------------------------ event_stream


@dataclass
class EventBacklog:
    files: list[list[dict]]  # one list of events per part file, in order
    truth: dict
    kept_ids: set[int]


def event_backlog(seed: int, n_events: int, n_files: int) -> EventBacklog:
    """``events``-shaped rows split into ``n_files`` part files covering one
    event-time hour each. Redeliveries repeat an earlier event (same id and
    content) in the same or next file, inside the 2-hour watermark; late
    events carry a timestamp six hours behind their file and a fresh id, so
    the watermark drops them. Users are Zipf-skewed."""
    r = rng(seed, "events")
    per_file = max(1, n_events // n_files)
    user_w = [1.0 / (k + 1) ** 1.2 for k in range(N_EVENT_USERS)]
    files: list[list[dict]] = []
    next_id = 0
    kept: set[int] = set()
    n_redelivered = n_late = 0
    prev_pool: list[dict] = []  # on-time events of the previous file
    for f in range(n_files):
        hour = EPOCH + dt.timedelta(hours=f)
        batch: list[dict] = []
        pool = list(prev_pool)  # redelivery candidates: previous and this file
        users = r.choices(range(N_EVENT_USERS), user_w, k=per_file)
        for j in range(per_file):
            roll = r.random()
            if roll < REDELIVER_SHARE and pool:
                batch.append(dict(r.choice(pool)))
                n_redelivered += 1
                continue
            if roll < REDELIVER_SHARE + LATE_SHARE and f >= 2:
                ts = hour - dt.timedelta(hours=6, seconds=r.randrange(3600))
                late = True
                n_late += 1
            else:
                ts = hour + dt.timedelta(microseconds=r.randrange(3_600_000_000))
                late = False
            ev = {"event_id": next_id, "ts": ts, "user_id": users[j],
                  "event_type": r.choice(EVENT_TYPES),
                  "value": round(r.random() * 200, 2), "props": f'{{"k": {r.randrange(100)}}}'}
            if not late:
                kept.add(next_id)
                pool.append(ev)
            next_id += 1
            batch.append(ev)
        files.append(batch)
        prev_pool = pool[len(prev_pool):]
    truth = {
        "events": sum(len(b) for b in files),
        "unique_ids": next_id,
        "redelivered": n_redelivered,
        "late": n_late,
        "kept": len(kept),
    }
    return EventBacklog(files=files, truth=truth, kept_ids=kept)


def write_backlog(backlog: EventBacklog, table_dir: str) -> None:
    """Write ``table_dir/part-NNNNN.parquet`` with strictly increasing
    modification times, so a file-source stream sees them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    os.makedirs(table_dir, exist_ok=True)
    t0 = 1_700_000_000
    for k, batch in enumerate(backlog.files):
        path = os.path.join(table_dir, f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(batch, schema=schema), path)
        os.utime(path, (t0 + k, t0 + k))
