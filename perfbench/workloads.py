"""The benchmark's workloads, driven through the engine's public API.

``serve``        seeded point queries (``bm25_query_topk_local``) against a
                 fully built and warmed index.
``index_write``  one full ``build_index``, one ``merge_index_delta``,
                 read-your-writes point queries on a freshly loaded
                 handle, then ``compact_postings`` and an
                 answer-invariance check.

Both are one closed-loop client in one driver process. Every answer is
checked, outside the timed window, against the pure-Python
``sparkrec.oracle.BM25Oracle``. A traced run (``--trace 1``) measures the
layers its own workload exercises (``serve`` also probes the batch path);
every other per-layer metric reads MISSING.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.stats import Tally, median, ratio_of_sums, tail
from perfbench.trace import StealSampler, Tracer, jvm_pid, peak_rss_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

REL_TOL = 1e-9

# (target, span name): public functions wrapped in a traced run. The
# scorer binds decode_postings_many and calls wand_topk by module global,
# so patching the scorer's attributes intercepts exactly the calls the
# point path makes; py_tokenize is imported at call time from textprep.
WRAPS = [
    ("sparkrec.functions.textprep:py_tokenize", "textprep.py_tokenize"),
    ("sparkrec.operators.scorer:wand_topk", "scorer.wand_topk"),
    ("sparkrec.operators.scorer:decode_postings_many",
     "codec.decode_postings_many"),
    ("sparkrec.operators.indexer:Index.warm", "indexer.warm"),
    ("sparkrec.operators.indexer:build_index", "indexer.build_index"),
    ("sparkrec.streaming.ingest:merge_index_delta", "ingest.merge_index_delta"),
    ("sparkrec.operators.compaction:compact_postings",
     "compaction.compact_postings"),
]

# the value of a per-layer metric its run did not measure
MISSING = -1.0


@dataclass
class Run:
    """State of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    sizes: inputs.Sizes
    tally: Tally = field(default_factory=Tally)
    tracer: Tracer = field(default_factory=Tracer)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    # answers to check after the run: (index state, query id, text, rows,
    # conversation index whose document must appear or None) and
    # (index state, [(query id, text)], result frame) per batch
    answers: list = field(default_factory=list)
    batches: list = field(default_factory=list)
    spark: object = None
    collector: object = None


# ---------------------------------------------------------------------------
# Session and inputs
# ---------------------------------------------------------------------------

def start_spark(run: Run):
    """local[N] session whose scratch space stays inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts   # spark-submit's launcher
    from sparkrec.session import get_spark

    n = run.sizes.partitions
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
        # the status REST API (plans.lineage.RestCollector) needs the UI;
        # only the traced run pays for it
        "spark.ui.enabled": "true" if run.traced else "false",
    }
    if run.traced:
        conf["spark.ui.port"] = "0"
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    if run.traced:
        from sparkrec.plans.lineage import RestCollector

        run.collector = RestCollector(spark)
    return spark


@dataclass
class Corpus:
    """The generated transcripts, cached once, and their layout."""

    df: object                          # every generated turn (cached)
    parts: list                         # [lo, hi, turns, bytes] per part
    _texts: dict | None = None

    def part(self, j: int):
        """Transcripts of part ``j`` (0 = base, 1 + d = delta d)."""
        from pyspark.sql import functions as F

        lo, hi = self.parts[j][:2]
        return self.df.filter((F.col("conv_id") >= inputs.conv_id(lo))
                              & (F.col("conv_id") < inputs.conv_id(hi)))

    def texts(self) -> dict[str, str]:
        """conv_id → document text of every part, assembled as
        assemble_docs does (turns in turn_idx order, joined by a space)."""
        if self._texts is None:
            hi = self.parts[-1][1]
            pdf = self.df.filter(self.df.conv_id < inputs.conv_id(hi)) \
                .select("conv_id", "turn_idx", "text").toPandas()
            pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
            self._texts = {c: " ".join(g["text"])
                           for c, g in pdf.groupby("conv_id", sort=False)}
        return self._texts


def make_corpus(run: Run, n_parts: int) -> Corpus:
    """Generate, cache and lay out the transcripts of the run's corpus
    seed (the base, and with ``n_parts`` = 2 the delta); check them
    against the pinned fingerprint."""
    from pyspark.sql import functions as F

    from sparkrec.datagen import transcripts_df

    s = run.sizes
    n = s.gen_all if n_parts > 1 else s.gen_base
    df = transcripts_df(run.spark, n, base_seed=inputs.corpus_seed(run.seed),
                        partitions=s.partitions).cache()
    rows = df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("turns"),
        F.sum(F.octet_length("text")).alias("bytes")).collect()
    per_conv = {int(r["conv_id"][len("conv-"):]): (int(r["turns"]),
                                                  int(r["bytes"]))
                for r in rows}
    turns = [per_conv[i][0] for i in range(n)]
    parts = inputs.layout(turns, s, n_parts)
    corpus = Corpus(df, inputs.part_sums(per_conv, parts))
    run.notes["parts"] = corpus.parts
    if s == inputs.FULL:
        problem = inputs.check_fingerprint(run.seed, s, corpus.parts)
        if problem:
            raise SystemExit(f"input fingerprint check failed: {problem}")
    return corpus


def table_bytes(root: str) -> dict[str, int]:
    """Parquet bytes per index table directory."""
    out = {}
    for name in ("docs", "postings", "lexicon", "stats"):
        total = 0
        for d, _, files in os.walk(os.path.join(root, name)):
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in files if f.endswith(".parquet"))
        out[name] = total
    return out


# ---------------------------------------------------------------------------
# Reference answers
# ---------------------------------------------------------------------------

class Reference:
    """Incrementally grown BM25Oracle over the engine's doc ids.

    The oracle tokenizes raw text with the Python twin tokenizer and
    scores in pure Python; only the doc-id ↔ conversation mapping is read
    from the engine's docs table (ids are an assignment, not an answer)."""

    def __init__(self, doc_of_conv: dict[str, int]) -> None:
        from sparkrec.oracle import BM25Oracle

        self.doc_of_conv = doc_of_conv
        self.oracle = BM25Oracle()

    def add(self, texts: dict[str, str]) -> None:
        o = self.oracle
        o.fit({self.doc_of_conv[c]: t for c, t in texts.items()})
        # fit() sizes N from the batch it was given; the corpus is the union
        o.n_docs = len(o.doc_len)
        o.avgdl = sum(o.doc_len.values()) / o.n_docs

    def matches(self, text: str, got: list[tuple[int, float]]) -> bool:
        want = self.oracle.topk(text, inputs.K + 10)
        return answers_match(got, want, inputs.K)


def answers_match(got: list[tuple[int, float]], want: list[tuple[int, float]],
                  k: int) -> bool:
    """Engine top-k == reference top-k: same ids in the same order and
    scores within rel 1e-9. ``want`` may run past k so that a tie group
    straddling rank k can be judged; inside a group of scores equal
    within the tolerance, ids compare as sets."""
    if len(got) != min(k, len(want)):
        return False

    def close(a: float, b: float) -> bool:
        return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)

    for (gd, gs), (wd, ws) in zip(got, want):
        if not close(gs, ws):
            return False
    i = 0
    while i < len(got):
        j = i
        while j + 1 < len(want) and close(want[j + 1][1], want[i][1]):
            j += 1
        group = {d for d, _ in want[i:j + 1]}
        if not {d for d, _ in got[i:min(j + 1, len(got))]} <= group:
            return False
        i = j + 1
    return True


def rows_of(pdf, qid: str) -> list[tuple[int, float]]:
    sub = pdf[pdf["query_id"] == qid].sort_values("rank")
    return [(int(d), float(s)) for d, s in zip(sub["doc_id"], sub["score"])]


# ---------------------------------------------------------------------------
# Tracing helpers
# ---------------------------------------------------------------------------

def install_wraps(run: Run) -> None:
    import sparkrec.oracle  # noqa: F401  binds the unwrapped py_tokenize

    t = run.tracer

    def on_wand(sp, args, kwargs):
        blocks = args[0]
        sp.attrs["blocks"] = len(blocks)
        sp.attrs["bytes"] = int(sum(
            sum(len(x) for x in blocks[c]) for c in
            ("docs_enc", "tfs_enc", "dls_enc") if c in blocks))

    def on_decode(sp, args, kwargs):
        sp.attrs["blocks"] = len(args[0])

    hooks = {"scorer.wand_topk": on_wand,
             "codec.decode_postings_many": on_decode}
    for target, name in WRAPS:
        t.wrap(target, name, hooks.get(name))


def job_group(run: Run, group: str | None) -> None:
    sc = run.spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


def settle(run: Run, group: str, timeout: float = 10.0) -> list[int]:
    """Wait until the status store has seen every job of ``group`` end
    (listener events are asynchronous), then return the job ids."""
    st = run.spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout
    seen: list[int] = []
    while time.monotonic() < deadline:
        ids = sorted(st.getJobIdsForGroup(group))
        infos = [st.getJobInfo(i) for i in ids]
        ended = ids and all(i is not None and i.status in
                            ("SUCCEEDED", "FAILED") for i in infos)
        if ended and ids == seen:      # unchanged across two polls
            break
        seen = ids
        time.sleep(0.05)
    return seen


def stage_cpu_s(run: Run, first: int, last: int) -> float:
    ns = 0
    for st in run.collector.stages():
        if first <= st.get("stageId", -1) <= last:
            ns += int(st.get("executorCpuTime", 0) or 0)
    return ns / 1e9


def spark_delta(run: Run, group: str) -> dict:
    """Jobs of ``group`` plus the stage metrics accrued since the
    previous call (RestCollector.diff)."""
    jobs = settle(run, group)
    d = run.collector.diff()
    d["jobs"] = len(jobs)
    d["executor_cpu_s"] = stage_cpu_s(run, d["first_stage_id"],
                                      d["last_stage_id"])
    return d


# ---------------------------------------------------------------------------
# The point read: one closed-loop operation shared by both workloads
# ---------------------------------------------------------------------------

@dataclass
class Reads:
    walls: list = field(default_factory=list)       # every successful read
    traced: list = field(default_factory=list)      # (request id, wall)
    untraced: list = field(default_factory=list)


def point_read(run: Run, index, q: tuple[str, str], reads: Reads,
               state: int, traced: bool, must_contain: int | None = None) -> None:
    from sparkrec.operators import scorer

    qid, text = q
    if traced:
        job_group(run, qid)
    t0 = time.perf_counter()
    try:
        with run.tracer.request_scope(qid, traced):
            with run.tracer.span("read"):
                pdf = scorer.bm25_query_topk_local(run.spark, index, [q],
                                                   inputs.K)
        wall = time.perf_counter() - t0
    except Exception as exc:  # a failed read is a failed operation
        run.tally.record(False, f"{qid}: {type(exc).__name__}: {exc}")
        return
    finally:
        if traced:
            job_group(run, None)
    reads.walls.append(wall)
    (reads.traced if traced else reads.untraced).append((qid, wall))
    run.answers.append((state, qid, text, rows_of(pdf, qid), must_contain))


def closed_loop(seconds: float, ops, run_op) -> float:
    """Run ``ops`` in order until the window would overrun: the next op
    starts only if the previous op's wall still fits in ``seconds``
    (at least one op always runs). Returns the window's wall."""
    t0 = time.perf_counter()
    last = 0.0
    for i, op in enumerate(ops):
        if i and (time.perf_counter() - t0) + last > seconds:
            break
        s = time.perf_counter()
        run_op(i, op)
        last = time.perf_counter() - s
    return time.perf_counter() - t0


def verify(run: Run, corpus: Corpus, root: str) -> None:
    """Check every recorded answer against the reference, outside every
    timed region. The oracle grows through the index states in order:
    state 0 is the base, state 1 adds the delta."""
    last = max([a[0] for a in run.answers] + [b[0] for b in run.batches],
               default=0)
    t0 = time.perf_counter()
    texts = corpus.texts()
    ref = Reference(doc_ids(run, root))
    for st in range(last + 1):
        lo, hi = corpus.parts[st][:2]
        ref.add({inputs.conv_id(i): texts[inputs.conv_id(i)]
                 for i in range(lo, hi)})
        check_answers(run, ref, st)
    run.notes["verify_s"] = time.perf_counter() - t0


def check_answers(run: Run, ref, state: int) -> None:
    """Tally the answers read at index ``state`` against ``ref``."""
    for st, qid, text, rows, conv in run.answers:
        if st != state:
            continue
        ok = ref.matches(text, rows)
        if ok and conv is not None:
            ok = ref.doc_of_conv[inputs.conv_id(conv)] in {d for d, _ in rows}
        run.tally.record(ok, f"{qid}: answer differs from the reference")
    for st, qs, pdf in run.batches:
        if st == state:
            ok = all(ref.matches(text, rows_of(pdf, qid)) for qid, text in qs)
            run.tally.record(ok, f"batch of {len(qs)}: answers differ")


def point_layers(run: Run, reads: Reads) -> None:
    """Per-layer numbers of the traced point reads. A layer is reported
    only if every traced read has its span (decode: if any has one — a
    read whose WAND pruned every block decodes nothing); otherwise, as
    when the wrap target is gone or the read path stopped calling it, the
    metric stays unmeasured and reads MISSING."""
    t = run.tracer
    reqs = [qid for qid, _ in reads.traced]
    if not reqs:
        return
    wall = dict(reads.traced)
    tok = t.by_request("textprep.py_tokenize")
    kern = t.by_request("scorer.wand_topk")
    dec = t.by_request("codec.decode_postings_many")
    has_tok = all(r in tok for r in reqs)
    has_kern = all(r in kern for r in reqs)
    has_dec = any(r in dec for r in reqs)
    run.notes["unspanned_reads"] = {
        "textprep.py_tokenize": sum(r not in tok for r in reqs),
        "scorer.wand_topk": sum(r not in kern for r in reqs)}
    L = run.layers
    if has_tok:
        L["textprep.tokenize_ms"] = median([tok[r] for r in reqs])
    if has_dec:
        L["codec.decode_ms"] = median([dec.get(r, 0.0) for r in reqs])
    if has_tok and has_kern:
        L["fetch.self_ms"] = median([1000 * wall[r] - tok[r] - kern[r]
                                     for r in reqs])
    if has_kern:
        wands = [sp for sp in t.named("scorer.wand_topk") if sp.request in wall]
        fetched = sum(sp.attrs.get("blocks", 0) for sp in wands)
        L["scorer.kernel_ms"] = median([kern[r] for r in reqs])
        L["fetch.blocks_per_query"] = fetched / len(reqs)
        L["fetch.bytes_per_query"] = sum(sp.attrs.get("bytes", 0)
                                         for sp in wands) / len(reqs)
        if has_dec and fetched:
            decoded = sum(sp.attrs.get("blocks", 0)
                          for sp in t.named("codec.decode_postings_many")
                          if sp.request in wall)
            L["scorer.decoded_block_share"] = decoded / fetched
    st = run.spark.sparkContext.statusTracker()
    L["fetch.spark_jobs_per_query"] = (
        sum(len(st.getJobIdsForGroup(r)) for r in reqs) / len(reqs))
    if reads.untraced:
        tr = median([w for _, w in reads.traced])
        un = median([w for _, w in reads.untraced])
        L["host.tracing_overhead_pct"] = 100.0 * (tr - un) / un


def read_metrics(run: Run, reads: Reads) -> None:
    """End-to-end read metrics of the window, plus the highest percentile
    the sample supports (for the run record: the windows are too short
    for a p95 with ten samples beyond it)."""
    if not reads.walls:
        raise RuntimeError("no point read succeeded in the window")
    run.e2e["read_p50_ms"] = 1000 * median(reads.walls)
    p, v = tail(reads.walls)
    run.notes["read_tail"] = {"samples": len(reads.walls), "pct": p,
                              "ms": None if v is None else 1000 * v}
    run.notes["read_walls_ms"] = [1000 * w for w in reads.walls]


def build(run: Run, base, root: str) -> float:
    """One full build_index of the base corpus; returns its wall."""
    from sparkrec.operators import indexer
    from sparkrec.plans.manifest import MetricsLog

    shutil.rmtree(root, ignore_errors=True)
    metrics = None
    if run.traced:
        job_group(run, "build")
        run.collector.diff()
        metrics = MetricsLog(root, collector=run.collector)
    t0 = time.perf_counter()
    with run.tracer.request_scope("build", run.traced):
        indexer.build_index(run.spark, base, root, indexer.IndexConfig(),
                            overwrite=True, metrics=metrics)
    wall = time.perf_counter() - t0
    if metrics is not None:
        job_group(run, None)
        for rec in metrics.stages:
            if rec["status"] != "completed":
                continue
            name = rec["stage"]
            run.layers[f"indexer.stage_{name}_s"] = rec["wall_sec"]
            if name != "stats":
                run.layers[f"indexer.stage_{name}_shuffle_write_bytes"] = \
                    rec.get("shuffle_write_bytes", 0)
                run.layers[f"indexer.stage_{name}_executor_cpu_s"] = \
                    stage_cpu_s(run, rec.get("first_stage_id", 0),
                                rec.get("last_stage_id", -1))
        run.notes["build_manifest"] = metrics.stages
    return wall


def index_files(run: Run, root: str, text_bytes: int) -> None:
    tb = table_bytes(root)
    for name in ("docs", "postings", "lexicon"):
        run.layers[f"tables.{name}_bytes"] = tb[name]
    run.e2e["index_bytes_per_text_byte"] = sum(tb.values()) / text_bytes


def doc_ids(run: Run, root: str) -> dict[str, int]:
    from sparkrec.sources.tables import read_table

    pdf = read_table(run.spark, root, "docs").select("doc_id", "conv_id") \
        .toPandas()
    return dict(zip(pdf["conv_id"], (int(x) for x in pdf["doc_id"])))


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def serve(run: Run) -> None:
    """Warm point reads. A traced run also probes the batch path on the
    same index."""
    from sparkrec.operators.indexer import Index

    s = run.sizes
    t0 = time.perf_counter()
    root = os.path.join(WORK, "index")
    spark = start_spark(run)
    corpus = make_corpus(run, 1)
    run.notes["session_and_inputs_s"] = time.perf_counter() - t0
    if run.traced:
        install_wraps(run)
    build_s = build(run, corpus.part(0), root)
    index = Index.load(spark, root)
    with run.tracer.request_scope("warm", run.traced):
        index.warm(spark)
    run.e2e["setup_s"] = time.perf_counter() - t0
    _, n_convs, turns, text_bytes = corpus.parts[0]
    run.e2e["build_turns_per_s"] = turns / build_s
    run.notes["build_s"] = build_s
    warm_spans = run.tracer.named("indexer.warm")
    if warm_spans:
        run.layers["indexer.warm_s"] = warm_spans[0].ms / 1000

    pool = inputs.point_queries(run.seed, s.serve_pool, n_convs)
    warmup, timed = pool[:s.serve_warmup], pool[s.serve_warmup:]
    for q in warmup:
        point_read(run, index, q, Reads(), 0, False)
    reads = Reads()
    window = closed_loop(
        run.seconds, timed,
        lambda i, q: point_read(run, index, q, reads, 0,
                                run.traced and i % 2 == 0))
    run.notes["window_s"] = window
    run.e2e["driver_rss_mb"] = peak_rss_mb()
    read_metrics(run, reads)
    run.e2e["throughput_per_s"] = ratio_of_sums([1] * len(reads.walls),
                                                reads.walls)
    index_files(run, root, text_bytes)
    if run.traced:
        point_layers(run, reads)
        batch_probe(run, index, n_convs, 0)
    verify(run, corpus, root)


def batch_probe(run: Run, index, n_convs: int, state: int) -> None:
    """Traced only: the batch path's stage metrics (exchange bytes,
    executor run vs CPU time, tasks, jobs) per large and per small batch.
    Sequence: a discarded small warm-up, then large/small pairs."""
    from sparkrec.operators import scorer

    s = run.sizes
    qs = inputs.point_queries(run.seed + 1, 2 * s.large_batch
                              + 3 * s.small_batch, n_convs, prefix="b")
    plan, at = [], 0
    for size in (s.small_batch, s.large_batch, s.small_batch,
                 s.large_batch, s.small_batch):
        plan.append(qs[at:at + size])
        at += size
    large, small = [], []
    for j, batch in enumerate(plan):
        group = f"batch{j}"
        job_group(run, group)
        run.collector.diff()
        t0 = time.perf_counter()
        try:
            pdf = scorer.bm25_query_topk(run.spark, index, batch,
                                         inputs.K).toPandas()
        except Exception as exc:
            run.tally.record(False, f"{group}: {type(exc).__name__}: {exc}")
            continue
        finally:
            job_group(run, None)
        wall = time.perf_counter() - t0
        d = spark_delta(run, group)
        run.batches.append((state, batch, pdf))
        if j:
            (large if len(batch) == s.large_batch else small).append(
                (len(batch), wall, d))
    L = run.layers
    if large:
        L["batch.large_qps"] = ratio_of_sums([n for n, _, _ in large],
                                             [w for _, w, _ in large])
        L["scorer.batch_shuffle_write_bytes_per_query"] = median(
            [d["shuffle_write_bytes"] / n for n, _, d in large])
        run_s = median([d["executor_run_time_ms"] / 1000 for _, _, d in large])
        cpu_s = median([d["executor_cpu_s"] for _, _, d in large])
        L["scorer.batch_executor_run_s"] = run_s
        L["scorer.batch_executor_cpu_s"] = cpu_s
        L["scorer.batch_wait_s"] = run_s - cpu_s
        L["scorer.batch_tasks"] = median([d["num_tasks"] for _, _, d in large])
        L["scorer.batch_spark_jobs"] = median([d["jobs"] for _, _, d in large])
    if small:
        L["batch.small_p50_ms"] = 1000 * median([w for _, w, _ in small])
        L["scorer.small_batch_shuffle_write_bytes"] = median(
            [d["shuffle_write_bytes"] for _, _, d in small])
        L["scorer.small_batch_spark_jobs"] = median(
            [d["jobs"] for _, _, d in small])
        L["scorer.small_batch_executor_run_s"] = median(
            [d["executor_run_time_ms"] / 1000 for _, _, d in small])


# ---------------------------------------------------------------------------
# index_write
# ---------------------------------------------------------------------------

def written_terms(corpus: Corpus, parts: list[int]) -> list[tuple[str, int]]:
    """(conversation-unique term, conversation) for every conversation of
    ``parts`` whose term occurs in its text, part by part."""
    out = []
    for j in parts:
        lo, hi = corpus.parts[j][:2]
        out += [(t, int(t[len("uniq"):]))
                for t in inputs.present_uniq_terms(corpus.texts(), lo, hi)]
    return out


def index_write(run: Run) -> None:
    """Build; the timed merge of the delta; read-your-writes queries on a
    fresh handle (a few discarded, then --seconds of them); then the
    measured compaction between two identical query sets."""
    from sparkrec.operators import compaction
    from sparkrec.operators.indexer import Index
    from sparkrec.streaming import ingest

    s = run.sizes
    t0 = time.perf_counter()
    root = os.path.join(WORK, "index")
    spark = start_spark(run)
    corpus = make_corpus(run, 2)
    run.e2e["setup_s"] = time.perf_counter() - t0
    if run.traced:
        install_wraps(run)
    build_s = build(run, corpus.part(0), root)
    _, n_convs, turns, base_bytes = corpus.parts[0]
    _, _, delta_turns, delta_bytes = corpus.parts[1]
    run.e2e["build_turns_per_s"] = turns / build_s
    run.notes["build_s"] = build_s
    corpus.texts()                     # collected outside every timed region

    # the merge runs cold, like the build: one more merge to warm it up
    # would cost ~8 s of a run the evaluation budget cannot spare
    if run.traced:
        job_group(run, "merge")
        run.collector.diff()
    t = time.perf_counter()
    with run.tracer.request_scope("merge", run.traced):
        out = ingest.merge_index_delta(spark, corpus.part(1), root)
    merge_s = time.perf_counter() - t
    if run.traced:
        job_group(run, None)
        run.layers["ingest.merge_shuffle_write_bytes_per_turn"] = (
            spark_delta(run, "merge")["shuffle_write_bytes"] / delta_turns)

    # read-your-writes on a fresh handle: lexicon warm, postings cold
    # (parquet). The queries are conversation-unique terms, newest writes
    # first; each must find its conversation. The first reads of the
    # handle pay JIT warm-up of the cold path and are discarded.
    handle = Index.load(spark, root)
    with run.tracer.request_scope("warm", run.traced):
        handle.warm(spark, postings=False)
    pool = written_terms(corpus, [1, 0])
    reads = Reads()

    def ryw(q, sink: Reads, traced: bool) -> None:
        term, conv = q
        point_read(run, handle, (f"w-{conv}", term), sink, 1, traced,
                   must_contain=conv)

    for q in pool[:s.write_warmup]:
        ryw(q, Reads(), False)
    window = closed_loop(
        run.seconds, pool[s.write_warmup:],
        lambda i, q: ryw(q, reads, run.traced and i % 2 == 0))

    # compaction, then answers must be identical on a fresh handle
    inv = inputs.point_queries(run.seed + 2, s.inv_reads, n_convs, prefix="i")
    before = len(run.answers)
    for q in inv:
        point_read(run, handle, q, Reads(), 1, False)
    t = time.perf_counter()
    with run.tracer.request_scope("compact", run.traced):
        comp = compaction.compact_postings(spark, root)
    compact_s = time.perf_counter() - t
    after = Index.load(spark, root).warm(spark, postings=False)
    for q in inv:
        point_read(run, after, q, Reads(), 1, False)
    pre, post = run.answers[before:before + len(inv)], run.answers[before + len(inv):]
    same = len(pre) == len(post) == len(inv) and all(
        a[3] == b[3] for a, b in zip(pre, post))
    run.tally.record(same, "answers changed across compaction")

    run.e2e["driver_rss_mb"] = peak_rss_mb()
    read_metrics(run, reads)
    run.e2e["throughput_per_s"] = delta_turns / merge_s
    index_files(run, root, base_bytes + delta_bytes)
    L = run.layers
    L["ingest.merge_first_s"] = merge_s
    L["ingest.docs_added"] = int(out.get("docs_added", 0))
    L["ingest.fresh_read_ms"] = run.e2e["read_p50_ms"]
    L["compaction.compact_s"] = compact_s
    for key in ("rows_before", "rows_after", "files_before", "files_after"):
        L[f"compaction.{key}"] = comp[key]
    L["compaction.row_amplification"] = (comp["rows_before"]
                                         / max(1, comp["rows_after"]))
    if run.traced:
        warms = run.tracer.named("indexer.warm")
        if warms:
            L["indexer.warm_s"] = warms[0].ms / 1000
        point_layers(run, reads)
    run.notes["window_s"] = window
    run.notes["merge"] = dict(out, merge_s=merge_s)
    run.notes["compaction"] = dict(comp, compact_s=compact_s)
    verify(run, corpus, root)


WORKLOADS = {"serve": serve, "index_write": index_write}


def execute(run: Run) -> None:
    """Run one workload with the steal sampler around it; always stops
    Spark and restores wrapped functions."""
    shutil.rmtree(WORK, ignore_errors=True)
    sampler = StealSampler()
    sampler.start()
    try:
        WORKLOADS[run.workload](run)
        if run.spark is not None:
            pid = jvm_pid(run.spark)
            run.layers["host.jvm_peak_rss_mb"] = (
                peak_rss_mb(pid) if pid else None)
    finally:
        run.tracer.unwrap_all()
        steal = sampler.stop()
        run.notes["steal"] = steal
        run.layers["host.steal_vcpu_mean"] = steal["steal_vcpu_mean"]
        run.layers["host.steal_vcpu_max"] = steal["steal_vcpu_max"]
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(WORK, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it forked) to exit: the JVM ends when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
