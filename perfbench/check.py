"""Answer checks: result digests, the DuckDB oracle, independent references.

Every timed answer is reduced to a digest of its normalised rows (the
normalisation of ``tests/compare.py``: columns sorted by name, rows sorted,
floats by ``repr``) and compared against a reference digest. A mismatch is
a failed op, never an exception, so one wrong answer cannot hide others.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
from collections import Counter

from tests.compare import normalize, run_oracle


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame: column names + rows."""
    h = hashlib.sha1(repr(sorted(pdf.columns)).encode())
    h.update(repr(normalize(pdf)).encode())
    return h.hexdigest()


def shift_years(text: str, years: int) -> str:
    """Move every quoted ISO date literal in ``text`` by ``years``."""
    if years == 0:
        return text
    return re.sub(
        r"'(\d{4})-(\d\d-\d\d)'",
        lambda m: f"'{int(m.group(1)) + years}-{m.group(2)}'",
        text,
    )


def oracle_digest(sql: str, sf_dir: str) -> str:
    return digest(run_oracle(sql, sf_dir))


class Ledger:
    """Thread-safe tally of checked ops: how each was checked, how many
    failed, and the first few mismatches for the log."""

    def __init__(self):
        self._lock = threading.Lock()
        self.by_way: Counter = Counter()
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def record(self, ok: bool, way: str, what: str) -> None:
        with self._lock:
            self.attempted += 1
            self.by_way[way] += 1
            if not ok:
                self.failed += 1
                if len(self.mismatches) < 20:
                    self.mismatches.append(f"{way}: {what}")

    def fail(self, what: str) -> None:
        self.record(False, "error", what)


# --- ingest reference -------------------------------------------------------


def keep_latest_reference(base_rows: list[tuple], batches: list[list[tuple]]):
    """Keep-latest over base ∪ all batches by ``updated_at`` (rows are
    ``(_id, date, total_earnings, online_seconds, updated_at)``), plus per
    batch the number of updated keys and of decreasing updates, computed in
    plain Python."""
    state = {(r[0], r[1]): r for r in base_rows}
    per_batch = []
    for batch in batches:
        upd = dec = 0
        for r in batch:
            old = state.get((r[0], r[1]))
            if old is not None:
                upd += 1
                dec += r[2] < old[2]
            if old is None or r[4] > old[4]:
                state[(r[0], r[1])] = r
        per_batch.append({"updated": upd, "decreases": dec})
    return state, per_batch


def rows_digest(rows) -> str:
    return hashlib.sha1(repr(sorted(tuple(map(repr, r)) for r in rows)).encode()).hexdigest()


# --- pretrain reference -----------------------------------------------------


def manifest_totals(dst: str) -> dict:
    """Shard/doc/token totals read straight from the manifest files."""
    n_shards = n_docs = n_tokens = 0
    mdir = os.path.join(dst, "manifest")
    for name in sorted(os.listdir(mdir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(mdir, name)) as fh:
            for line in fh:
                if line.strip():
                    rec = json.loads(line)
                    n_shards += 1
                    n_docs += int(rec["n_docs"])
                    n_tokens += int(rec["n_tokens"])
    return {"n_shards": n_shards, "n_docs": n_docs, "n_tokens": n_tokens}


def pretrain_problems(res: dict, manifest: dict, n_raw: int, n_gated: int) -> list[str]:
    """Disagreements between ``pretrain_prepare``'s funnel, the manifest on
    disk and the independently counted corpus; empty when consistent."""
    exp = res["export"]
    bad = []
    if res["n_raw"] != n_raw:
        bad.append(f"n_raw {res['n_raw']} != corpus rows {n_raw}")
    if res["n_gated"] != n_gated:
        bad.append(f"n_gated {res['n_gated']} != gate count {n_gated}")
    if not res["n_raw"] >= res["n_gated"] >= res["n_kept"] >= res["n_clean"] > 0:
        bad.append(f"funnel not monotone: {res}")
    if res["n_verified_edges"] > res["n_candidate_pairs"]:
        bad.append("more verified edges than candidate pairs")
    if exp["n_docs"] != res["n_clean"]:
        bad.append(f"export n_docs {exp['n_docs']} != n_clean {res['n_clean']}")
    for k in ("n_shards", "n_docs", "n_tokens"):
        if exp[k] != manifest[k]:
            bad.append(f"export {k} {exp[k]} != manifest {manifest[k]}")
    return bad
