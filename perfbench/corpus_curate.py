"""corpus_curate: the LLM-data curation pipeline.

Each job is ``curation.curate_corpus`` with its defaults (quality gate ->
exact dedup -> LSH-verified near-dup -> decontamination against a 50-doc
probe set -> packing) plus the parquet write of the result.  Closed loop:
one job after another on the same input, with ``spark.catalog.clearCache()``
between jobs (every stage caches and nothing unpersists).  Jobs start while
the window is open; ``latency_p50_s`` / ``latency_p90_s`` are over their
durations and ``throughput_per_s`` is documents in over the summed duration.

The corpus is made from the seed: distinct texts drawn from the vocabulary of
the repository's ``documents`` test table, plus a seeded 10% exact duplicates
and 10% one-word-edit near duplicates.  All the work is in
``operators.dedup``, ``operators.text`` and Spark shuffles, none in the
queue; a job carries a fixed per-stage cost beside its per-row cost, so both
per-row and per-stage gains show.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.harness import median, quantile

# the 30 words of the documents test table (sf0.1), one entry each
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
ORIGINALS = 6_400
EXACT_DUPS = 800
NEAR_DUPS = 800
PROBES = 50
BUDGET = 512  # curate_corpus's pack budget
STAGES = [
    "input", "quality_gate", "exact_dedup", "near_dup", "decontaminated", "packed"
]
# Warm-up is fixed work: one job over 500 documents.  The first job of a
# session pays ~10 s of one-time cost whatever its input size.
WARMUP_DOCS = 500


def make_corpus(rng: random.Random) -> tuple[list[str], list[str]]:
    """(documents, probes); document i gets doc_id i."""
    seen: set[str] = set()
    originals = []
    while len(originals) < ORIGINALS:
        text = " ".join(rng.choices(VOCAB, k=rng.randint(20, 100)))
        if text not in seen:
            seen.add(text)
            originals.append(text)
    docs = list(originals)
    docs += [rng.choice(originals) for _ in range(EXACT_DUPS)]
    for _ in range(NEAR_DUPS):
        words = rng.choice(originals).split()
        i = rng.randrange(len(words))
        words[i] = rng.choice([w for w in VOCAB if w != words[i]])
        docs.append(" ".join(words))
    rng.shuffle(docs)
    probes = []
    for _ in range(PROBES // 2):  # half quote a 12-word span of the corpus
        words = rng.choice(originals).split()
        i = rng.randrange(len(words) - 12)
        probes.append(" ".join(words[i : i + 12]))
    while len(probes) < PROBES:
        probes.append(" ".join(rng.choices(VOCAB, k=12)))
    return docs, probes


def _write(path: str, texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        path,
    )


def check_output(out_dir: str, docs: list[str], counts: dict) -> list[str]:
    """Every output id is an input id, no two outputs share a text, stage
    counts never increase, and every pack follows the budget rule: a doc
    opens a new pack once the tokens before it in its shard meet 512."""
    import pyarrow.parquet as pq

    columns = ["doc_id", "text", "shard", "n_tokens", "pack_id"]
    rows = pq.read_table(out_dir, columns=columns).to_pylist()
    problems = []
    if any(
        not 0 <= r["doc_id"] < len(docs) or docs[r["doc_id"]] != r["text"] for r in rows
    ):
        problems.append("an output row is not an input document")
    if len({r["text"] for r in rows}) != len(rows):
        problems.append("two outputs share a text")
    seq = [counts[s] for s in STAGES]
    if any(b > a for a, b in zip(seq, seq[1:])) or seq[-1] != len(rows):
        problems.append(f"stage counts {seq} for {len(rows)} output rows")
    by_shard: dict[int, list[dict]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        before = 0
        for r in sorted(shard_rows, key=lambda r: r["doc_id"]):
            n_tokens = len(r["text"].split())
            if r["pack_id"] != before // BUDGET or r["n_tokens"] != n_tokens:
                problems.append(f"doc {r['doc_id']} packed outside the budget rule")
                break
            before += r["n_tokens"]
    return problems


def run(ctx) -> dict:
    import flume_spark.curation as curation

    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    rng = random.Random(ctx.seed)
    docs, probe_texts = make_corpus(rng)
    corpus_path = os.path.join(ctx.work, "corpus.parquet")
    warmup_path = os.path.join(ctx.work, "warmup.parquet")
    probes_path = os.path.join(ctx.work, "probes.parquet")
    _write(corpus_path, docs)
    _write(warmup_path, docs[:WARMUP_DOCS])
    _write(probes_path, probe_texts)
    out_dir = os.path.join(ctx.work, "curated")

    problems: list[str] = []
    jobs = []  # {start, end, counts, group}

    def one_job(k: int, path: str = corpus_path) -> dict:
        spark.catalog.clearCache()
        group = f"perfbench-curate-{k}"
        sc.setJobGroup(group, group)
        start = time.time()
        _, counts = curation.curate_corpus(
            spark,
            spark.read.parquet(path),
            spark.read.parquet(probes_path),
            out_dir=out_dir,
        )
        end = time.time()
        sc.setJobGroup(None, None)
        found = check_output(out_dir, docs, counts)
        if jobs and counts != jobs[0]["counts"]:
            found.append(f"stage counts {counts} differ from {jobs[0]['counts']}")
        problems.extend(f"job {k}: {p}" for p in found)
        ok = not found
        return {"start": start, "end": end, "counts": counts, "group": group, "ok": ok}

    one_job(0, warmup_path)
    if tracer:
        tracer.enabled = False
    t0 = time.time()
    ctx.setup_done = t0
    half = t0 + ctx.seconds / 2
    while time.time() - t0 < ctx.seconds:
        if tracer and time.time() >= half:
            tracer.enabled = True
        jobs.append(one_job(len(jobs) + 1))
    t1 = time.time()

    def e2e(a, b):
        sel = [j for j in jobs if a <= j["start"] < b]
        times = [j["end"] - j["start"] for j in sel]
        good = sum(j["ok"] for j in sel)
        return {
            "throughput_per_s": len(docs) * len(times) / sum(times) if times else 0.0,
            "latency_p50_s": median(times),
            "latency_p90_s": quantile(times, 0.9),
            "ok_frac": good / len(sel) if sel else 0.0,
            "_n": len(sel),
            "_failed": len(sel) - good,
        }

    out = {"problems": problems}
    if tracer is None:
        out["e2e"] = e2e(t0, t1)
        return out
    if not any(half <= j["start"] for j in jobs):
        half = jobs[-1]["start"]  # the first job overran the half: trace the last
    out["e2e"] = e2e(half, t1)
    out["e2e_untraced"] = e2e(t0, half)
    out["layers"] = curation_layers(tracer, sc, [j for j in jobs if j["start"] >= half])
    return out


def curation_layers(tracer, sc, jobs) -> dict:
    """Per-stage time from the ``count`` calls ``curate_corpus`` makes itself
    (each stage ends on a cached count; a stage runs from the previous
    count's end to its own), the write span, and the Spark jobs / stages /
    tasks of each job's job group, as medians over the traced jobs."""
    status = sc.statusTracker()
    per_job: list[dict] = []
    for span in tracer.named("curate_corpus", jobs[0]["start"] - 1.0):
        kids = [s for s in tracer.spans if s["parent"] == span["id"]]
        own = [s for s in kids if s["caller"] == "curate_corpus"]
        counts = sorted(
            (s for s in own if s["name"] == "count"), key=lambda s: s["start"]
        )
        writes = [s for s in kids if s["name"] == "write"]
        if len(counts) != len(STAGES):
            continue
        m = {
            f"curation.stage_s.{name}": counts[i]["end"] - counts[i - 1]["end"]
            for i, name in enumerate(STAGES)
            if i
        }
        m["curation.stage_s.write"] = sum(w["end"] - w["start"] for w in writes)
        per_job.append(m)
    out = {k: median([m[k] for m in per_job]) for k in per_job[0]} if per_job else {}
    n_jobs, n_stages, n_tasks = [], [], []
    for j in jobs:
        ids = status.getJobIdsForGroup(j["group"])
        jobs_info = [status.getJobInfo(i) for i in ids]
        stages = [s for info in jobs_info if info is not None for s in info.stageIds]
        stages_info = [status.getStageInfo(s) for s in stages]
        tasks = [info.numTasks for info in stages_info if info is not None]
        n_jobs.append(len(ids))
        n_stages.append(len(stages))
        n_tasks.append(sum(tasks))
    counts = jobs[0]["counts"]
    out.update(
        {
            "curation.spark_jobs": median(n_jobs),
            "curation.spark_stages": median(n_stages),
            "curation.spark_tasks": median(n_tasks),
            "curation.yield.exact_dedup": counts["exact_dedup"]
            / counts["quality_gate"],
            "curation.yield.near_dup": counts["near_dup"] / counts["exact_dedup"],
        }
    )
    return out
