"""Passes over the stored tables, their correctness checks, and the
layer probes of the traced run.

A pass calls the engine's public functions on a stored table and
returns (wall seconds, turns). ``extract_pass`` and ``curate_pass`` are
the two workloads; ``job_pass`` is the job probe. Checks run after the
timed region and feed ``Run.check``, whose failures become the record's
``failed`` count.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import uuid
from dataclasses import dataclass, field

from harness.inputs import Table
from harness.observe import Tracer, python_rows, stage_stats

GATES = (
    "loop_detect", "canned_responses", "context_fit", "tool_latency",
    "refusal_detect", "truncation_detect", "assistant_echo", "turn_integrity",
)
# dedup_apply_conversations is not timed on its own: transcript_curate
# runs it in full to get its keep-set, so the chain would pay for the
# LSH arm twice (about a third of the chain's wall)
CURATION_OPS = ("dedup_conversations", "preference_pairs", "conversation_branches", "transcript_curate")

# run_checkpointed layout: 16 deterministic partitions in 4 slices; the
# crash leg is killed after 2 slices, so half the partitions are done
JOB_PARTITIONS = 16
JOB_SLICES = 4
JOB_KILL_AFTER = 2

# turns in the hash sample for the equality check and the kernel timings
SAMPLE_SIZE = 256


@dataclass
class Checks:
    """Correctness tally: every check is one attempted operation."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)


@dataclass
class Run:
    """State shared by one harness run's passes, checks and probes."""

    spark: object
    table: Table
    work_dir: str
    slots: int
    checks: Checks = field(default_factory=Checks)
    groups: dict = field(default_factory=dict)
    digests: list = field(default_factory=list)
    job: dict = field(default_factory=dict)

    def on(self, table: Table) -> "Run":
        """The same session and check tally over another table."""
        return Run(self.spark, table, self.work_dir, self.slots, self.checks)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.attempted += 1
        if not ok:
            self.checks.failed += 1
            self.checks.failures.append(f"{name}: {detail}")

    def group(self, name: str) -> str:
        """Tag the next Spark jobs with a fresh job group."""
        g = f"{name}#{uuid.uuid4().hex[:8]}"
        self.spark.sparkContext.setJobGroup(g, name)
        self.groups[name] = g
        return g

    def fresh_dir(self, name: str) -> str:
        return os.path.join(self.work_dir, "out", f"{name}-{uuid.uuid4().hex[:8]}")

    def read(self):
        return self.spark.read.parquet(self.table.path)


def noop(df) -> None:
    """Full-column sink that keeps nothing: every column is computed."""
    df.write.format("noop").mode("overwrite").save()


def _rows_digest(rows) -> str:
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- passes


def extract_pass(run: Run, tr: Tracer) -> tuple[float, int]:
    from engine.spark.pipeline import run_extraction

    g = run.group("pipeline.run_extraction")
    t0 = time.perf_counter()
    with tr.span("pipeline.run_extraction"):
        noop(run_extraction(run.read(), span_content=False, repartition=False))
    wall = time.perf_counter() - t0
    out = python_rows(run.spark, g)
    run.check("extract.rows_out_eq_in", out == run.table.rows, f"{out} rows out, {run.table.rows} in")
    return wall, run.table.rows


def job_pass(run: Run, tr: Tracer) -> tuple[float, int]:
    """Kill ``run_checkpointed`` after half its slices, then resume it."""
    from engine.spark.job import run_checkpointed

    if run.job:
        shutil.rmtree(run.job["out"], ignore_errors=True)
    out = run.fresh_dir("job")
    kw = {"num_partitions": JOB_PARTITIONS, "partition_batches": JOB_SLICES, "run_id": "bench"}
    crashed = False
    run.group("job.crash")
    t0 = time.perf_counter()
    with tr.span("job.run_checkpointed.crash"):
        try:
            run_checkpointed(run.spark, run.read(), out, fail_after_batches=JOB_KILL_AFTER, **kw)
        except RuntimeError as e:
            crashed = "injected failure" in str(e)
    crash_s = time.perf_counter() - t0
    run.job = {"out": out, "done_after_crash": _done_parts(out)}
    run.group("job.resume")
    t0 = time.perf_counter()
    with tr.span("job.run_checkpointed.resume"):
        run_checkpointed(run.spark, run.read(), out, **kw)
    wall = crash_s + time.perf_counter() - t0
    _check_job(run, out, crashed)
    return wall, run.table.valid_rows


def curate_pass(run: Run, tr: Tracer) -> tuple[float, int]:
    """The eight trajectory gates, then the five curation ops; every
    result is collected to the driver (they are per-conversation)."""
    from pyspark.sql import functions as F

    from engine.spark import agent, pipeline

    outs = {}
    t0 = time.perf_counter()
    turns = run.read()
    # the curation ops read post-extraction columns; raw text stands in
    per_turn = turns.select("conv_id", "turn_idx", "role", F.col("text").alias("cleaned_text"))
    for name in GATES:
        run.group(f"agent.{name}")
        with tr.span(f"agent.{name}"):
            outs[name] = getattr(agent, name)(turns).collect()
    for name in CURATION_OPS:
        run.group(f"pipeline.{name}")
        with tr.span(f"pipeline.{name}"):
            outs[name] = getattr(pipeline, name)(per_turn).collect()
    wall = time.perf_counter() - t0
    _check_curate(run, outs)
    return wall, run.table.rows


PASSES = {"extract_mixed": extract_pass, "curate_chain": curate_pass}

# untimed passes before the timed ones. Extraction throughput is a
# steady-state figure (one stage of a long job), so its plans and
# workers are warmed first. A curation chain is run as a fresh job, which
# pays plan compilation every time, so its first pass is the measurement.
WARM_UP_PASSES = {"extract_mixed": 1, "curate_chain": 0}


# ---------------------------------------------------------------- checks


def sample_rows(table: Table) -> list[dict]:
    """Deterministic sample of the table's valid rows: the SAMPLE_SIZE
    rows whose (conv_id, turn_idx) hash lowest."""
    import pyarrow.parquet as pq

    def rank(r: dict) -> str:
        return hashlib.md5(f"{r['conv_id']}|{r['turn_idx']}".encode()).hexdigest()

    rows = [r for r in pq.read_table(table.path).to_pylist() if r["text"] is not None and r["turn_idx"] is not None]
    return sorted(rows, key=rank)[:SAMPLE_SIZE]


def check_equality(run: Run, sample: list[dict]) -> None:
    """The timed extraction path (narrow spans, no shuffle, native span
    rebuild) must equal ``extract_turn`` on every sampled turn."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.kernel.transcript import extract_turn
    from engine.spark.pipeline import run_extraction, with_span_content

    path = run.fresh_dir("eqsample")
    os.makedirs(path)
    # at least as many files as slots, or run_extraction would fall back
    # to the salted path and the check would cover the wrong plan
    tab = pa.Table.from_pylist(sample, schema=pq.read_schema(os.path.join(run.table.path, "part-000.parquet")))
    n_files = run.slots * 2
    step = -(-len(sample) // n_files)
    for f in range(n_files):
        pq.write_table(tab.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"))
    got = with_span_content(
        run_extraction(run.spark.read.parquet(path), span_content=False, repartition=False)
    ).select("conv_id", "turn_idx", "cleaned_text", "spans").collect()
    by_key = {(r["conv_id"], r["turn_idx"]): r["text"] for r in sample}
    run.check("extract.sample_rows", len(got) == len(sample), f"{len(got)} of {len(sample)}")
    bad = 0
    for row in got:
        oracle = extract_turn(by_key[(row.conv_id, row.turn_idx)])
        spans = [s.asDict() for s in row.spans]
        if row.cleaned_text != oracle["cleaned_text"] or spans != oracle["spans"]:
            bad += 1
    run.check("extract.equality", bad == 0, f"{bad} of {len(got)} sampled turns differ from extract_turn")


def _done_parts(out: str) -> set[int]:
    import pyarrow.parquet as pq

    ckpt = os.path.join(out, "checkpoints")
    if not os.path.isdir(ckpt):
        return set()
    t = pq.read_table(ckpt).to_pylist()
    return {r["part_id"] for r in t if r["status"] == "done"}


def _check_job(run: Run, out: str, crashed: bool) -> None:
    from pyspark.sql import functions as F

    run.check("job.crash_injected", crashed, "the crash leg did not stop at the injected failure")
    sink = run.spark.read.parquet(os.path.join(out, "results"))
    agg = sink.groupBy("conv_id", "turn_idx").count().agg(
        F.count("*").alias("keys"), F.max("count").alias("max_rows")
    ).collect()[0]
    valid = run.table.valid_rows
    run.check(
        "job.one_row_per_key", agg.keys == valid and agg.max_rows == 1,
        f"{agg.keys} keys (want {valid}), max {agg.max_rows} rows per key",
    )
    parts = _done_parts(out)
    run.check("job.checkpoints_cover", parts == set(range(JOB_PARTITIONS)), f"done parts {sorted(parts)}")
    errors = run.job["error_rows"] = run.spark.read.parquet(os.path.join(out, "errors")).count()
    planted = run.table.rows - valid
    run.check("job.errors_planted", errors == planted, f"{errors} error rows, {planted} planted")


def _check_curate(run: Run, outs: dict) -> None:
    planted = run.table.planted
    all_convs = {r.conv_id for r in outs["loop_detect"]}
    loops = {r.conv_id for r in outs["loop_detect"] if r.is_looping}
    exact = {r.conv_id for r in outs["dedup_conversations"] if not r.is_keeper}
    # every generated conversation clears transcript_curate's token and
    # empty-turn gate, so its packed set is exactly the dedup survivors
    packed = {r.conv_id for r in outs["transcript_curate"]}
    dups = set(planted.get("exact_dups", [])) | set(planted.get("near_dups", []))
    run.check("curate.loops", loops == set(planted.get("loops", [])), f"flagged {sorted(loops)}")
    run.check("curate.exact_dups", exact == set(planted.get("exact_dups", [])), f"dropped {sorted(exact)}")
    run.check("curate.survivors", packed == all_convs - dups, f"dropped {sorted(all_convs - packed)}")
    d = hashlib.sha256("".join(_rows_digest(outs[k]) for k in GATES + CURATION_OPS).encode()).hexdigest()[:16]
    run.check("curate.digest_stable", not run.digests or d == run.digests[0], f"{d} != {run.digests[:1]}")
    run.digests.append(d)


# ---------------------------------------------------------------- probes


def kernel_probe(sample: list[dict], reps: int = 3) -> dict:
    """Per-turn timings of the kernel's public steps over the sample,
    median of ``reps`` repetitions, measured in this process."""
    from engine.kernel import chunker, detector, fields, html, normalize, pdfish, textclean
    from engine.kernel.transcript import classify_payload, extract_turn

    texts = [r["text"] for r in sample]
    kinds = [classify_payload(t) for t in texts]
    steps = ("parse_html", "parse_pdfbox", "clean", "chunk", "detect", "fields", "turn")
    runs = {s: [] for s in steps}
    pc = time.perf_counter
    for _ in range(reps):
        acc = dict.fromkeys(steps, 0.0)
        for text, kind in zip(texts, kinds):
            t0 = pc()
            if kind == "pdfbox":
                main = pdfish.reconstruct_text(text)
                pdfish.page_stats(text)
            elif kind == "html":
                main = html.extract_main_text(text)
            else:
                main = text
            t1 = pc()
            cleaned, m = textclean.clean_text(main)
            textclean.assess_quality(m)
            t2 = pc()
            chunker.chunk_text(cleaned, max_tokens=3000, overlap_tokens=100)
            t3 = pc()
            doc_type = detector.detect_document_type(cleaned)["document_type"]
            t4 = pc()
            data = normalize.clean_extracted_data(fields.extract_fields(cleaned, doc_type), doc_type)
            if doc_type == "invoice":
                normalize.post_process_invoice(data, cleaned)
            t5 = pc()
            if kind != "plain":
                acc[f"parse_{kind}"] += t1 - t0
            acc["clean"] += t2 - t1
            acc["chunk"] += t3 - t2
            acc["detect"] += t4 - t3
            acc["fields"] += t5 - t4
        t0 = pc()
        for text in texts:
            extract_turn(text)
        acc["turn"] = pc() - t0
        for s in steps:
            runs[s].append(acc[s])
    med = {s: statistics.median(v) for s, v in runs.items()}
    n = len(texts)
    per = {"html": max(kinds.count("html"), 1), "pdfbox": max(kinds.count("pdfbox"), 1)}
    return {
        "kernel.turns_per_s_core": n / med["turn"],
        "kernel.parse_html_us": med["parse_html"] / per["html"] * 1e6,
        "kernel.parse_pdfbox_us": med["parse_pdfbox"] / per["pdfbox"] * 1e6,
        "kernel.clean_us": med["clean"] / n * 1e6,
        "kernel.chunk_us": med["chunk"] / n * 1e6,
        "kernel.detect_us": med["detect"] / n * 1e6,
        "kernel.fields_us": med["fields"] / n * 1e6,
    }


def stage_probe(run: Run, kernel_tps: float) -> dict:
    """``extract_turns`` alone into the noop sink, plus the status
    store's executor view of it."""
    from engine.spark.stage import extract_turns

    g = run.group("stage.extract_turns")
    t0 = time.perf_counter()
    noop(extract_turns(run.read(), span_content=False))
    wall = time.perf_counter() - t0
    st = stage_stats(run.spark, g)
    return {
        "stage.wall_s": wall,
        "stage.executor_run_s": st["run_s"],
        "stage.jvm_cpu_s": st["cpu_s"],
        "stage.python_share": 1.0 - st["cpu_s"] / st["run_s"] if st["run_s"] else 0.0,
        "stage.task_skew": st["task_skew"],
        "stage.slot_efficiency": (run.table.rows / wall) / (run.slots * kernel_tps),
    }


def pipeline_probe(run: Run) -> dict:
    """The extraction pipeline's two partitioning paths, and its native
    post-expressions over stored stage output."""
    from engine.spark.pipeline import run_extraction, with_native_post
    from engine.spark.stage import extract_turns

    out = {}
    t0 = time.perf_counter()
    noop(run_extraction(run.read(), span_content=False, repartition=False))
    out["pipeline.extract_filesplit_s"] = time.perf_counter() - t0
    g = run.group("pipeline.extract_salted")
    t0 = time.perf_counter()
    noop(run_extraction(run.read(), span_content=False, repartition=True))
    out["pipeline.extract_salted_s"] = time.perf_counter() - t0
    st = stage_stats(run.spark, g)
    out["pipeline.shuffle_write_bytes"] = st["shuffle_write_bytes"]
    out["pipeline.spill_bytes"] = st["spill_bytes"]
    stored = run.fresh_dir("stage_out")
    extract_turns(run.read(), span_content=False).write.parquet(stored)
    t0 = time.perf_counter()
    noop(with_native_post(run.spark.read.parquet(stored)))
    out["pipeline.native_post_s"] = time.perf_counter() - t0
    shutil.rmtree(stored, ignore_errors=True)
    return out


def job_layer_metrics(run: Run, self_s: dict) -> dict:
    """job.* from the last job pass: walls, kernel rows per leg from
    the SQL status store, and what the sink holds."""
    from engine.spark.pipeline import part_expr, split_valid

    info = run.job
    crash_rows = python_rows(run.spark, run.groups["job.crash"])
    resume_rows = python_rows(run.spark, run.groups["job.resume"])
    valid, _ = split_valid(run.read())
    per_part = valid.groupBy(part_expr(JOB_PARTITIONS).alias("p")).count().collect()
    unfinished = sum(r["count"] for r in per_part if r.p not in info["done_after_crash"])
    results = os.path.join(info["out"], "results")
    files = [os.path.join(d, f) for d, _, fs in os.walk(results) for f in fs if f.endswith(".parquet")]
    return {
        "job.wall_s": self_s["job.run_checkpointed.crash"] + self_s["job.run_checkpointed.resume"],
        "job.resume_wall_s": self_s["job.run_checkpointed.resume"],
        "job.kernel_rows_crash": crash_rows,
        "job.kernel_rows_resume": resume_rows,
        "job.resume_redo_ratio": resume_rows / unfinished if unfinished else 0.0,
        "job.sink_bytes": sum(os.path.getsize(f) for f in files),
        "job.sink_files": len(files),
        "job.error_rows": info["error_rows"],
        "job.unfinished_rows": unfinished,
    }


def curate_layer_metrics(run: Run, self_s: dict) -> dict:
    out = {f"agent.{g}_s": self_s[f"agent.{g}"] for g in GATES}
    out["agent.assistant_echo_shuffle_bytes"] = stage_stats(run.spark, run.groups["agent.assistant_echo"])[
        "shuffle_write_bytes"
    ]
    out.update({f"pipeline.{op}_s": self_s[f"pipeline.{op}"] for op in CURATION_OPS})
    out["pipeline.curate_shuffle_bytes"] = sum(
        stage_stats(run.spark, run.groups[f"pipeline.{op}"])["shuffle_write_bytes"] for op in CURATION_OPS
    )
    return out
