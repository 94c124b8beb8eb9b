"""Seeded input tables for the two workloads and the job probe.

Every table has the transcript schema (conv_id, turn_idx, role, text,
tool, ts) and is written as parquet with pyarrow, so the engine sees a
stored table and nothing of how it was made. Turn content comes from
``engine.kernel.gen.make_turn``; the seed only namespaces the conv_ids
(``s<seed>-c<n>``), which changes every turn's content because
``make_turn`` seeds itself from (conv_id, turn_idx).

Planted arms, with the answers the checks compare against:

- ``job_resume``: one mega-thread, plus rows with a null ``text`` or a
  null ``turn_idx`` that ``pipeline.split_valid`` must route to the
  errors table.
- ``curate_chain``: exact-duplicate conversations, near-duplicate
  conversations (one turn cut short), and looping conversations (a run
  of identical assistant tool calls).

Tables are cached under the work directory, keyed by workload, seed,
size and a hash of the generator sources, so a changed generator never
reuses a stale table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

# turns per ordinary conversation; every conversation has the same
# length so the table size is a function of the workload alone
TURNS_PER_CONV = 8

# (ordinary conversations, parquet files) per workload; smoke sizes
# keep every arm but shrink the bulk
SIZES = {
    "extract_mixed": {"convs": 1024, "files": 16},
    "job_resume": {"convs": 256, "files": 16, "mega_turns": 512, "bad_rows": 12},
    "curate_chain": {"convs": 128, "files": 8, "planted": 8},
}
SMOKE_SIZES = {
    "extract_mixed": {"convs": 32, "files": 4},
    "job_resume": {"convs": 32, "files": 4, "mega_turns": 64, "bad_rows": 4},
    "curate_chain": {"convs": 32, "files": 4, "planted": 2},
}

_GEN_SOURCES = ("engine/kernel/gen.py", "engine/kernel/pdfish.py")


@dataclass
class Table:
    """A materialized input table and the answers planted in it."""

    path: str
    digest: str
    rows: int
    valid_rows: int
    planted: dict = field(default_factory=dict)


def conv_id(seed: int, n: int) -> str:
    return f"s{seed}-c{n:06d}"


def _turn(cid: str, idx: int) -> dict:
    from engine.kernel.gen import make_turn

    t = make_turn(cid, idx)
    return {
        "conv_id": cid, "turn_idx": idx, "role": t["role"],
        "text": t["text"], "tool": t["tool"], "ts_us": t["ts_us"],
    }


def _conversation(cid: str, n_turns: int = TURNS_PER_CONV) -> list[dict]:
    return [_turn(cid, i) for i in range(n_turns)]


def generate(workload: str, seed: int, smoke: bool = False) -> tuple[list[dict], dict]:
    """Rows of the workload's table plus its planted answers."""
    size = (SMOKE_SIZES if smoke else SIZES)[workload]
    rows: list[dict] = []
    for n in range(size["convs"]):
        rows += _conversation(conv_id(seed, n))
    planted: dict = {}
    if workload == "job_resume":
        mega = conv_id(seed, 900_000)
        rows += _conversation(mega, size["mega_turns"])
        bad = []
        for k in range(size["bad_rows"]):
            r = _turn(conv_id(seed, 910_000 + k), 0)
            if k % 2:
                r["text"] = None
            else:
                r["turn_idx"] = None
            bad.append(r)
        rows += bad
        planted = {"mega_conv": mega, "error_rows": len(bad)}
    elif workload == "curate_chain":
        k = size["planted"]
        exact, near, loops = [], [], []
        # copies get conv_ids that sort after every original, so the
        # min-conv_id keeper rule always keeps the original
        for j in range(k):
            src = conv_id(seed, j)
            dup = conv_id(seed, 800_000 + j)
            rows += [dict(r, conv_id=dup) for r in _conversation(src)]
            exact.append(dup)
        for j in range(k):
            src = conv_id(seed, k + j)
            dup = conv_id(seed, 810_000 + j)
            copy = [dict(r, conv_id=dup) for r in _conversation(src)]
            last = copy[-1]["text"]
            copy[-1]["text"] = last[: int(len(last) * 0.95)]
            rows += copy
            near.append(dup)
        for j in range(k):
            cid = conv_id(seed, 820_000 + j)
            conv = _conversation(cid)
            # four consecutive identical assistant tool calls
            for i in range(2, 6):
                conv[i].update(role="assistant", tool="search", text=conv[2]["text"])
            rows += conv
            loops.append(cid)
        planted = {"exact_dups": exact, "near_dups": near, "loops": loops}
    return rows, planted


def digest(rows: list[dict]) -> str:
    """Order-independent sha256 over every row of the table."""
    lines = sorted(json.dumps(r, sort_keys=True, ensure_ascii=False) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def generator_hash(root: str) -> str:
    h = hashlib.sha256()
    for rel in _GEN_SOURCES + ("perfbench/harness/inputs.py",):
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _write_parquet(rows: list[dict], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {k: [r[k] for r in rows] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts_us")}
    table = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts_us"], pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"))


def materialize(root: str, cache_dir: str, workload: str, seed: int, smoke: bool = False) -> Table:
    """The workload's table for ``seed``, generated once and cached."""
    size = (SMOKE_SIZES if smoke else SIZES)[workload]
    key = f"{workload}-s{seed}-{'smoke' if smoke else 'full'}-{generator_hash(root)}"
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "_META.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return Table(path=path, **json.load(fh))
    shutil.rmtree(path, ignore_errors=True)
    rows, planted = generate(workload, seed, smoke)
    _write_parquet(rows, path, size["files"])
    valid = sum(1 for r in rows if r["text"] is not None and r["turn_idx"] is not None)
    meta = {"digest": digest(rows), "rows": len(rows), "valid_rows": valid, "planted": planted}
    # the meta file is written last: a table without it is incomplete
    with open(meta_path, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    return Table(path=path, **meta)
