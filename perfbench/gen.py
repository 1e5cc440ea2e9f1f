"""Seeded input generator for the benchmark.

Everything here is plain single-threaded Python driven by
``random.Random`` streams derived from the seed: the same seed gives
byte-identical files, a different seed gives different ones. The program under test only ever
sees the files; the ground truth goes to a JSON sidecar next to them.

Feeds follow the reference's formats:
- AT&T: pipe-delimited CSV with a header row (``*.csv``);
- AMAZON: JSON lines ``{"key": n, "value": {...}}`` (``*.jsonl``);
- UBER: an XML-archive parquet of
  ``(ARCHIVE_ID, STREAM_RECORD_ID, STREAMING_DATA)`` (``*.parquet``).

Each load is a mix of new keys (INSERT), re-emitted keys with fresh
values (UPDATE, or an in-batch duplicate that keep-latest drops when
the key was issued earlier in the same batch), unchanged redeliveries
(DUPLICATE) and rows naming an unknown agent (IS_VALID_DATA=0); the
shares are in ``INCREMENTAL_MIX``. The generator keeps every key's
active content, so the planted routing of each load is exact given the
loads before it.

The curation corpus is written as at least ``files`` parquet files, with
planted exact-duplicate groups and one-token-perturbed near-duplicates.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from datetime import datetime, timedelta
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

# Source ids follow the package's dims (AMAZON=1, UBER=2, AT&T=3).
SOURCES = {"att": 3, "amazon": 1, "uber": 2}

# Dimension tokens the package's seed dimensions resolve, per source id
# (pyspark_etl_project_spark/dims.py).
_AGENTS = {sid: [f"{p}-AGENT-{i:02d}" for i in range(1, 6)]
           for sid, p in ((1, "AMZ"), (2, "UBR"), (3, "ATT"))}
_AREAS = {
    1: ["ORDER ISSUES", "PAYMENTS", "RETURNS & REFUNDS", "PRIME MEMBERSHIP",
        "MARKETPLACE & THIRD-PARTY SELLERS"],
    2: ["RIDE ISSUES", "DRIVER FEEDBACK", "FARE DISPUTES", "ACCOUNT & APP",
        "SAFETY CONCERNS"],
    3: ["BILLING", "NETWORK COVERAGE", "DEVICE SUPPORT", "PLAN CHANGES",
        "INTERNATIONAL ROAMING"],
}
_CTYPES = {
    1: ["REGULAR", "PRIME", "BUSINESS", "PROMO-SEEKER"],
    2: ["RIDER", "DRIVER", "UBER-ONE", "LONG-TERM CUSTOMER"],
    3: ["PREPAID", "POSTPAID", "ENTERPRISE", "FAMILY PLAN"],
}

CSV_COLS = ["TICKET_IDENTIFIER", "SUPPORT_CATEGORY", "AGENT_NAME",
            "DATE_OF_CALL", "CALL_STATUS", "CALL_TYPE", "TYPE_OF_CUSTOMER",
            "DURATION", "WORK_TIME", "TICKET_STATUS",
            "RESOLVED_IN_FIRST_CONTACT", "RESOLUTION_CATEGORY", "RATING"]
JSON_COLS = ["INTERACTION_ID", "SUPPORT_CATEGORY", "AGENT_PSEUDO_NAME",
             "CONTACT_DATE", "INTERACTION_STATUS", "INTERACTION_TYPE",
             "TYPE_OF_CUSTOMER", "INTERACTION_DURATION", "TOTAL_TIME",
             "STATUS_OF_CUSTOMER_INCIDENT", "RESOLVED_IN_FIRST_CONTACT",
             "SOLUTION_TYPE", "RATING"]
XML_COLS = ["SUPPORT_IDENTIFIER", "CONTACT_REGARDING", "AGENT_CODE",
            "DATE_OF_INTERACTION", "STATUS_OF_INTERACTION",
            "TYPE_OF_INTERACTION", "CUSTOMER_TYPE", "CONTACT_DURATION",
            "AFTER_CONTACT_WORK_TIME", "INCIDENT_STATUS",
            "FIRST_CONTACT_SOLVE", "TYPE_OF_RESOLUTION", "SUPPORT_RATING",
            "TIME_STAMP"]

_EPOCH = datetime(2023, 1, 1)
_RUN_TS0 = datetime(2024, 1, 1)


def run_ts(load_index: int) -> str:
    """The SCD2 stamp of the n-th load of a run: distinct, increasing,
    and independent of the wall clock."""
    return (_RUN_TS0 + timedelta(minutes=load_index + 1)).strftime(
        "%Y-%m-%d %H:%M:%S")


def _hms(secs: int) -> str:
    return f"{secs // 3600}:{secs // 60 % 60:02d}:{secs % 60:02d}"


class _Bits:
    """Draws small choices from one 128-bit random word: one RNG call per
    record instead of one per field."""

    def __init__(self, rng: random.Random):
        self.word = rng.getrandbits(128)

    def below(self, n: int) -> int:
        self.word, r = divmod(self.word, n)
        return r

    def pick(self, options: list):
        return options[self.below(len(options))]


def _content(rng: random.Random, source: str, invalid: bool) -> dict:
    """One record's payload (everything but the natural key)."""
    sid = SOURCES[source]
    b = _Bits(rng)
    agent = (f"UNKNOWN-AGENT-{b.below(100)}" if invalid
             else b.pick(_AGENTS[sid]))
    area = b.pick(_AREAS[sid])
    ctype = b.pick(_CTYPES[sid])
    when = _EPOCH + timedelta(seconds=b.below(365 * 86400))
    dur = 30 + b.below(3570)
    work = 10 + b.below(590)
    if source == "att":
        return {"SUPPORT_CATEGORY": area, "AGENT_NAME": agent,
                "DATE_OF_CALL": when.strftime("%m%d%Y%H%M%S"),
                "CALL_STATUS": b.pick(["COMPLETED", "DROPPED", "TRANSFERRED"]),
                "CALL_TYPE": b.pick(["INBOUND", "OUTBOUND"]),
                "TYPE_OF_CUSTOMER": ctype, "DURATION": dur, "WORK_TIME": work,
                "TICKET_STATUS": b.pick(["OPEN", "CLOSED", "PENDING"]),
                "RESOLVED_IN_FIRST_CONTACT": b.below(2),
                "RESOLUTION_CATEGORY": b.pick(["FIXED", "ESCALATED", "REFUNDED"]),
                "RATING": b.pick(["WORST", "BAD", "NEUTRAL", "GOOD", "BEST"])}
    if source == "amazon":
        return {"SUPPORT_CATEGORY": area, "AGENT_PSEUDO_NAME": agent,
                "CONTACT_DATE": when.strftime("%d/%m/%Y %H:%M:%S"),
                "INTERACTION_STATUS": b.pick(["COMPLETED", "DROPPED"]),
                "INTERACTION_TYPE": b.pick(["CALL", "CHAT", "EMAIL"]),
                "TYPE_OF_CUSTOMER": ctype, "INTERACTION_DURATION": dur,
                "TOTAL_TIME": dur + work,
                "STATUS_OF_CUSTOMER_INCIDENT": b.pick(["OPEN", "RESOLVED"]),
                "RESOLVED_IN_FIRST_CONTACT": b.pick(["YES", "NO"]),
                "SOLUTION_TYPE": b.pick(["REFUND", "REPLACEMENT", "GUIDANCE"]),
                "RATING": 1 + b.below(10)}
    return {"CONTACT_REGARDING": area, "AGENT_CODE": agent,
            "DATE_OF_INTERACTION": when.strftime("%Y%m%d%H%M%S"),
            "STATUS_OF_INTERACTION": b.pick(["COMPLETED", "DROPPED"]),
            "TYPE_OF_INTERACTION": b.pick(["CALL", "CHAT"]),
            "CUSTOMER_TYPE": ctype, "CONTACT_DURATION": _hms(dur),
            "AFTER_CONTACT_WORK_TIME": _hms(work),
            "INCIDENT_STATUS": b.pick(["OPEN", "CLOSED"]),
            "FIRST_CONTACT_SOLVE": b.pick(["TRUE", "FALSE"]),
            "TYPE_OF_RESOLUTION": b.pick(["FIXED", "CREDITED", "NONE"]),
            "SUPPORT_RATING": str(1 + b.below(5)),
            "TIME_STAMP": (_EPOCH + timedelta(seconds=rng.randrange(10 ** 7))
                           ).strftime("%Y-%m-%d %H:%M:%S")}


_AGENT_FIELD = {"att": "AGENT_NAME", "amazon": "AGENT_PSEUDO_NAME",
                "uber": "AGENT_CODE"}


class FeedState:
    """One source's key space: the active content of every delivered key
    and the arrival counters (ingest key / archive id) that keep-latest
    orders by. Ids are dense: every id below ``next_key`` has been
    delivered and is active in the mart."""

    def __init__(self, source: str, rng: random.Random):
        self.source = source
        self.rng = rng
        self.active: dict[int, dict] = {}
        self.next_key = 1
        self.next_arrival = 1

    def batch(self, n_records: int, mix: dict) -> tuple[list, dict]:
        """Draw one load of ``n_records`` delivered records, one record at
        a time (see ``INCREMENTAL_MIX``): an unchanged redelivery of a
        key loaded before (share ``duplicate``), a re-emission of a
        random earlier id with fresh values (share ``reemit``), or else
        a new id. Fresh values name an unknown agent with probability
        ``invalid``. Returns the ordered (key, content) records and the
        planted truth, and advances the active state as the load will."""
        rng, source = self.rng, self.source
        loaded = self.next_key  # ids below this were loaded before
        records = []
        for _ in range(n_records):
            r = rng.random()
            if r < mix["duplicate"] and loaded > 1:
                k = rng.randrange(1, loaded)
                records.append((k, self.active[k]))
                continue
            if r < mix["duplicate"] + mix["reemit"] and self.next_key > 1:
                # Earlier in this batch or in an earlier load: an
                # in-batch duplicate or an UPDATE.
                k = rng.randrange(1, self.next_key)
            else:
                k = self.next_key
                self.next_key += 1
            records.append((k, _content(rng, source, rng.random() < mix["invalid"])))
        # Keep-latest (arrival order) keeps each key's last record.
        finals = dict(records)
        truth = {"records": len(records), "insert": 0, "update": 0,
                 "duplicate": 0, "inbatch_dups": len(records) - len(finals),
                 "invalid_fresh": 0}
        for k, c in finals.items():
            old = self.active.get(k)
            if old == c:
                truth["duplicate"] += 1
                continue
            truth["update" if old is not None else "insert"] += 1
            truth["invalid_fresh"] += c[_AGENT_FIELD[source]].startswith("UNKNOWN-AGENT-")
            self.active[k] = c
        truth["active_keys"] = len(self.active)
        return records, truth

    def arrivals(self, n: int) -> range:
        r = range(self.next_arrival, self.next_arrival + n)
        self.next_arrival += n
        return r


def _xml(key: int, content: dict) -> str:
    vals = {"SUPPORT_IDENTIFIER": str(key), **content}
    return "<RECORD>" + "".join(
        f"<{f}>{escape(str(vals[f]))}</{f}>" for f in XML_COLS) + "</RECORD>"


def write_feed(state: FeedState, records: list, path: str) -> int:
    """Write one load's records in the source's own format; returns the
    file size in bytes."""
    src = state.source
    if src == "att":
        lines = ["|".join(CSV_COLS)]
        for k, c in records:
            lines.append("|".join([str(k)] + [str(c[f]) for f in CSV_COLS[1:]]))
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
    elif src == "amazon":
        keys = state.arrivals(len(records))
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            for ingest, (k, c) in zip(keys, records):
                value = {"INTERACTION_ID": k, **{f: c[f] for f in JSON_COLS[1:]}}
                fh.write(json.dumps({"key": ingest, "value": value},
                                    separators=(",", ":")) + "\n")
    else:
        ids = list(state.arrivals(len(records)))
        table = pa.table({
            "ARCHIVE_ID": pa.array(ids, pa.int64()),
            "STREAM_RECORD_ID": pa.array([i * 10 + 7 for i in ids], pa.int64()),
            "STREAMING_DATA": pa.array([_xml(k, c) for k, c in records], pa.string()),
        }, schema=pa.schema([pa.field("ARCHIVE_ID", pa.int64(), False),
                             pa.field("STREAM_RECORD_ID", pa.int64(), False),
                             pa.field("STREAMING_DATA", pa.string())]))
        pq.write_table(table, path, compression="zstd", use_dictionary=False)
    return os.path.getsize(path)


FEED_EXT = {"att": "csv", "amazon": "jsonl", "uber": "parquet"}

# Shares of the delivered records of one load, drawn per record. The
# re-emission and invalid shares follow the reference's data generators
# as this repository records them (SURVEY.md section 2.K, FIXTURES.md;
# reference Data_Generators/CSV_data_generator.py:129-148 and the JSON
# and XML twins):
# - reemit: each generated row has a ~25% chance of re-emitting a
#   random earlier id with fresh values. Against a mart of earlier loads
#   that is an UPDATE; when the id was issued earlier in the same batch
#   it is an in-batch duplicate that keep-latest drops.
# - invalid: the generators null one field in ~10% of rows, and every
#   payload field feeds IS_VALID_DATA. Here the fresh row names an
#   unknown agent instead: the lookup miss nulls AGENT_ID, with the
#   same effect on IS_VALID_DATA.
# - duplicate: an assumption. The reference generators never redeliver
#   a record unchanged; DUPLICATE rows come only from at-least-once
#   redelivery, at a rate nothing in the reference records. 5% keeps
#   the DUPLICATE route busy on every load without making it the main
#   path.
INCREMENTAL_MIX = {"reemit": 0.25, "duplicate": 0.05, "invalid": 0.10}
# The seed history: distinct new ids only, at the same invalid share.
HISTORY_MIX = {"reemit": 0.0, "duplicate": 0.0, "invalid": 0.10}


def generate_etl(out_dir: str, seed: int, history: int, loads: int,
                 load_records: int, mix: dict) -> dict:
    """History feed plus ``loads`` loads per source, planned in load
    order. Layout: ``<out>/<source>/history.<ext>`` and
    ``<out>/<source>/load_NNNN.<ext>``; truth in ``<out>/truth.json``."""
    truth = {"seed": seed, "sources": {}}
    for source in SOURCES:
        # One stream per source, derived from the seed, so the sources'
        # inputs do not depend on each other's sizes.
        state = FeedState(source, random.Random(f"{seed}:{source}"))
        sdir = os.path.join(out_dir, source)
        os.makedirs(sdir, exist_ok=True)
        ext = FEED_EXT[source]
        recs, t = state.batch(history, HISTORY_MIX)
        t["file"] = f"{source}/history.{ext}"
        t["bytes"] = write_feed(state, recs, os.path.join(out_dir, t["file"]))
        per = {"history": t, "loads": []}
        for j in range(loads):
            recs, t = state.batch(load_records, mix)
            t["file"] = f"{source}/load_{j:04d}.{ext}"
            t["bytes"] = write_feed(state, recs, os.path.join(out_dir, t["file"]))
            per["loads"].append(t)
        truth["sources"][source] = per
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


def _vocabulary(rng: random.Random, size: int) -> tuple[list, list]:
    """Random lowercase words plus the package's language markers, with
    Zipf-like cumulative weights for sampling. Word length is a function
    of rank and the markers sit at fixed ranks, so every seed has the
    same expected bytes per token."""
    markers = ["the", "and", "of", "der", "und", "die", "el", "de", "la"]
    letters = "abcdefghijklmnopqrstuvwxyz"
    words, seen = [], set(markers)
    while len(words) < size - len(markers):
        w = "".join(rng.choice(letters) for _ in range(3 + len(words) % 7))
        if w not in seen:
            seen.add(w)
            words.append(w)
    for i, m in enumerate(markers):
        words.insert(20 + 40 * i, m)
    cum, total = [], 0.0
    for rank in range(len(words)):
        total += 1.0 / (rank + 10) ** 0.8
        cum.append(total)
    return words, cum


def generate_corpus(out_dir: str, seed: int, docs: int, files: int,
                    min_tokens: int, max_tokens: int) -> dict:
    """``docs`` documents over ``files`` parquet files (doc_id, text).
    12% of docs are members of exact-duplicate groups (sizes 2, 2, 3, ...)
    and 8% of docs are one-token-perturbed copies of a unique base doc.
    The corpus shape (group sizes, document lengths, token count) is the
    same for every seed; the seed picks the words and the doc ids.

    Both shares are assumptions: the reference has no corpus and nothing
    in the repository measures duplicate rates. They keep the planted
    documents a minority (most documents stay unique, so LSH mostly
    works on non-matching rows) while planting enough pairs (64 per
    1,600 docs) for the near-duplicate recall floor to mean something."""
    rng = random.Random(f"{seed}:corpus")
    words, cum = _vocabulary(rng, 4000)
    total = cum[-1]
    span = max_tokens - min_tokens + 1

    def word() -> str:
        return words[bisect.bisect_left(cum, rng.random() * total)]

    bases = itertools.count()

    def doc() -> list:
        # Base k has length min + 37k mod span: every length in the
        # range, in an order that does not depend on the seed.
        return [word() for _ in range(min_tokens + (37 * next(bases)) % span)]

    texts: list[list[str]] = []
    exact, near = [], []
    n_exact_docs = docs * 12 // 100
    n_near = docs * 8 // 100
    while sum(len(g) for g in exact) < n_exact_docs:
        base = doc()
        size = 3 if len(exact) % 3 == 2 else 2
        exact.append(list(range(len(texts), len(texts) + size)))
        texts.extend([base] * size)
    for _ in range(n_near):
        base = doc()
        pos = rng.randrange(len(base))
        alt = list(base)
        while alt[pos] == base[pos]:
            alt[pos] = word()
        near.append([len(texts), len(texts) + 1])
        texts.extend([base, alt])
    while len(texts) < docs:
        texts.append(doc())
    # Shuffle ids so planted copies do not sit next to each other.
    perm = list(range(len(texts)))
    rng.shuffle(perm)
    ids = [p + 1 for p in perm]
    exact = [sorted(ids[i] for i in g) for g in exact]
    near = [sorted(ids[i] for i in p) for p in near]
    rows = sorted(zip(ids, (" ".join(t) for t in texts)))
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-len(rows) // files)
    for f in range(files):
        part = rows[f * per_file:(f + 1) * per_file]
        table = pa.table({"doc_id": pa.array([r[0] for r in part], pa.int64()),
                          "text": pa.array([r[1] for r in part], pa.string())})
        pq.write_table(table, os.path.join(out_dir, f"part-{f:03d}.parquet"),
                       compression="zstd")
    exact_ids = {d for g in exact for d in g}
    truth = {"seed": seed, "docs": len(rows), "files": files,
             "tokens": sum(len(t) for t in texts),
             "exact_tokens": sum(len(t.split()) for i, t in rows if i in exact_ids),
             "exact_groups": sorted(exact), "near_pairs": sorted(near)}
    # Underscore-prefixed: Spark's file listing skips it.
    with open(os.path.join(out_dir, "_truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth
