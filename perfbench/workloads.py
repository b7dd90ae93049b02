"""The four workloads. Each is a closed loop with one client: the next
call is sent only after the previous one returned.

A workload has three phases:

- ``prepare(rep)``: input generation and base-index build. The runner
  calls it several times; set-up time adds the median to the session
  start and one ``warm_up()``.
- ``window(seconds)``: the timed requests. Answers are kept in memory.
- ``check()``: every answer against its oracle, outside the timed window.

With tracing on, ``layers(store)`` turns the recorded spans, the Spark
status store and the executed plans into per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from org_rdkit_lucene_spark.config import IndexConfig
from org_rdkit_lucene_spark.operators.build import InvertedIndex, build_index
from org_rdkit_lucene_spark.operators.query import decoded_postings, search, search_auto, tokenize_queries
from org_rdkit_lucene_spark.operators.wand import search_wand
from org_rdkit_lucene_spark.streaming.incremental import (
    SegmentedIndex,
    build_segment,
    delete_docs,
    list_segments,
    segments_root,
)
from org_rdkit_lucene_spark.streaming.percolate import percolate

import gen
import layers
import oracle
from sparkstats import StatusStore, plan_metrics

# Input sizes. Docs have the length of real source files (see gen.py);
# the doc counts are set so that a whole run (session start, several
# set-ups, the window and the checks) takes about a minute on a 4-core
# box. The per-call costs they expose are the engine's fixed per-job and
# per-stage costs plus the tokenize/encode/decode work.
BUILD_DOCS = 2000
QUERY_DOCS = 500
INGEST_BASE_DOCS = 250
INGEST_BATCH_DOCS = 100
INGEST_CYCLES = 1
CORPUS_FILES = 16
POINT_QUERIES = 50  # not a multiple of the 3 rotated search surfaces
# query_point windows hold at least this many rotations. Its surfaces
# differ in cost, so the median moves with the number of rotations; a
# floor above what a short window would give keeps that number the same
# from run to run.
POINT_MIN_ROTATIONS = 3
# Rotations of the query_point warm-up. The JVM keeps compiling the
# query path for dozens of queries: on a 4-core box a point query's CPU
# time falls from about 2.5 s to about 1.5 s over its first 30 queries.
# Three rotations move the window off the steepest part of that curve.
POINT_WARM_ROTATIONS = 3
HOT_K_SEARCH = 1000
HOT_K_WAND = 50_000


@dataclass
class Request:
    rid: int
    kind: str
    t0: float
    t1: float
    cpu_s: float = 0.0  # CPU seconds of the process tree during the call
    ok: bool = True
    why: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def index_config(slots: int) -> IndexConfig:
    """The default build layout with one build partition per task slot
    (the default 32 would be mostly empty tasks at these sizes)."""
    return IndexConfig(build_partitions=slots)


class Workload:
    name = ""
    item = ""  # what items_per_s and items_per_cpu_s count
    items_per_request = 1
    check_error = ""  # set when the checker itself raised

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.seed = ctx.seed
        self.reqs: list[Request] = []
        self.window_s = 0.0
        self.window_start = 0.0
        self.plans: dict[int, list] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work_dir, *parts)

    def _request(self, kind: str, fn) -> tuple[Request, object]:
        """Time one call; with tracing on, tag its jobs with the request id.
        A call that raises is a failed request and returns ``None``."""
        rid = len(self.reqs)
        with self.tracer.group(f"r{rid}", f"{self.name}:{kind}"):
            c0 = self.ctx.cpu()
            t0 = time.time()
            try:
                out, why = fn(), ""
            except Exception as e:  # noqa: BLE001 - any engine error fails the call
                out, why = None, _raised(e)
            t1 = time.time()
        # outside the request's span and job group: no job runs meanwhile
        c1 = self.ctx.cpu.settle()
        req = Request(rid, kind, t0, t1, c1 - c0, ok=not why, why=why)
        self.reqs.append(req)
        return req, out

    # -- shared per-layer metrics -------------------------------------

    # requests in one rotation over the workload's request kinds; every
    # window holds at least one, so per-request layer metrics taken over
    # the first rotation see the same calls in every run of a seed
    rotation = 1

    def first_rotation(self) -> list[Request]:
        return self.reqs[: self.rotation]

    def spark_layers(self, store: StatusStore) -> dict[str, float]:
        reqs = self.first_rotation()
        n = max(len(reqs), 1)
        jobs = tasks = job_wall = self_s = 0.0
        for r in reqs:
            js = store.jobs_in(f"r{r.rid}")
            jobs += len(js)
            tasks += sum(s.n_tasks for s in store.job_stages(js))
            covered = store.covered_s(js, r.t0 * 1000, r.t1 * 1000)
            job_wall += covered
            self_s += max(r.seconds - covered, 0.0)
        run_ms = sum(
            s.run_ms for r in self.reqs for s in store.job_stages(store.jobs_in(f"r{r.rid}"))
        )
        return {
            "spark.jobs_per_request": jobs / n,
            "spark.tasks_per_request": tasks / n,
            "spark.job_wall_s_per_request": job_wall / n,
            "spark.driver_self_s_per_request": self_s / n,
            "spark.busy_frac": run_ms / 1000.0 / max(self.window_s * self.ctx.slots, 1e-9),
            "spark.failed_tasks": float(sum(j.n_failed_tasks for j in store.jobs)),
        }

    def request_latencies(self) -> list[float]:
        return [r.seconds for r in self.reqs]

    def rotation_cpu(self) -> list[float]:
        """Mean CPU seconds per request over each whole rotation of the
        window. The JVM compiles code in the background and that time is
        charged to whichever request is running, so single point queries
        range over about +-25%; the requests of one rotation share it."""
        n = self.rotation
        return [sum(r.cpu_s for r in self.reqs[i:i + n]) / n
                for i in range(0, len(self.reqs) - n + 1, n)]

    def items_per_cpu_s(self) -> float:
        """Items per CPU second of the process tree, the median over the
        window's rotations."""
        rates = [_rate(self.items_per_request, c) for c in self.rotation_cpu()]
        return statistics.median(rates) if rates else 0.0

    def warm_up(self) -> None:
        """Run once after the set-ups, before the window."""

    def extra_calls(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, reasons) of checked calls that are not
        timed requests."""
        return 0, 0, []

    def human(self) -> list[tuple[str, float, str]]:
        """Workload-specific end-to-end figures, printed by name."""
        return [("queries_per_s", self.items_per_s(), "1/s")]


# ---------------------------------------------------------------------------
# shared set-up and query measurement


class _IndexedWorkload(Workload):
    """Shared set-up (corpus generation, base and pilot builds) and the
    query-side per-layer metrics."""

    n_docs = QUERY_DOCS

    def make_inputs(self) -> str:
        """Generate the corpus and write it as parquet; returns its dir."""
        self.vocab = gen.Vocab.make(self.seed)
        self.docs = gen.make_docs(self.seed, self.n_docs, vocab=self.vocab)
        self.input_bytes = int(self.docs["content"].str.encode("utf-8").str.len().sum())
        self.corpus_dir = self.path("corpus")
        shutil.rmtree(self.corpus_dir, ignore_errors=True)
        gen.write_parquet(self.docs, self.corpus_dir, CORPUS_FILES)
        self.parquet_bytes = sum(e.stat().st_size for e in os.scandir(self.corpus_dir))
        self.cfg = index_config(self.ctx.slots)
        return self.corpus_dir

    def build_base(self, rep: int) -> None:
        corpus = self.spark.read.parquet(self.make_inputs())
        self.base_group = f"base-{rep}"
        with self.tracer.group(self.base_group, f"{self.name}:base_build"):
            self.index = build_index(self.spark, corpus, self.cfg, self.path(f"base-{rep}"), id_col="doc_id")
        if rep > 0:
            shutil.rmtree(self.path(f"base-{rep - 1}"), ignore_errors=True)

    def pilot_build(self, rep: int) -> InvertedIndex:
        """Excluded build of two corpus files, so the JVM's JIT, codegen
        and the Python workers are warm before the window."""
        files = sorted(os.listdir(self.corpus_dir))[:2]
        corpus = self.spark.read.parquet(*(os.path.join(self.corpus_dir, f) for f in files))
        with self.tracer.group(f"pilot-{rep}", f"{self.name}:pilot"):
            return build_index(self.spark, corpus, self.cfg, self.path(f"pilot-{rep}"), id_col="doc_id")

    def base_layers(self, store: StatusStore) -> dict[str, float]:
        out = layers.tokenizer_rates(self.docs["content"])
        out.update(layers.build_artifacts(self.index.index_dir, self.input_bytes))
        out.update(build_shuffle(store, store.jobs_in(self.base_group)))
        return out

    def query_layers(self, store: StatusStore, index, reqs: list[Request]) -> dict[str, float]:
        """query.* and wand.* from the executed plans of ``reqs`` and the
        jobs they ran."""
        n = max(len(reqs), 1)
        blocks = decoded = shuffle = kernel_ms = routed = kernel_rows = 0.0
        returned = wand_returned = lex_s = 0.0
        local_topk = wand_plans = auto = auto_wand = 0
        for r in reqs:
            nodes = self.plans.get(r.rid, [])
            rows = float(r.extra["n_rows"])
            is_wand = any("shard_kernel" in p.text for p in nodes)
            for i, p in enumerate(nodes):
                if p.name == "Filter" and _feeds_from_postings(nodes, i):
                    blocks += p.metrics.get("numOutputRows", 0)
                if p.name == "MapInPandas" and "decode_blocks" in p.text:
                    decoded += p.metrics.get("pythonNumRowsReceived", 0)
                if p.name == "MapInPandas" and "local_topk" in p.text:
                    local_topk += 1
                if p.name == "Exchange":
                    shuffle += p.metrics.get("shuffleBytesWritten", 0)
                if p.name == "FlatMapGroupsInPandas" and "shard_kernel" in p.text:
                    kernel_ms += p.metrics.get("pythonTotalTime", 0)
                    kernel_rows += p.metrics.get("pythonNumRowsReceived", 0)
                if is_wand and p.name == "Generate":
                    routed += p.metrics.get("numOutputRows", 0)
            if is_wand:
                wand_plans += 1
                wand_returned += rows
            else:
                returned += rows
            if r.kind == "search_auto":
                auto += 1
                auto_wand += is_wand
            lex_s += sum(
                (j.end_ms - j.start_ms) / 1000.0
                for j in store.jobs_in(f"r{r.rid}")
                if j.call_site.startswith("toPandas at") and "/operators/" in j.call_site
            )
        # driver-side tokenize timed per distinct text; one standalone
        # decode of every term the requests used
        texts = {q for r in reqs for q in r.extra["queries"]}
        tok_s = []
        for q in sorted(texts)[:8]:
            t = time.perf_counter()
            tokenize_queries([(1, q, 10)], self.cfg.tokenizer)
            tok_s.append(time.perf_counter() - t)
        terms = sorted({t for q in texts for t in tokenize_queries([(1, q, 10)], self.cfg.tokenizer)["term"]})
        with self.tracer.span("query.decode"):
            t = time.perf_counter()
            decoded_postings(index, terms).count()
            decode_s = time.perf_counter() - t
        return {
            "query.tokenize_s": statistics.median(tok_s) if tok_s else 0.0,
            "query.lexicon_slice_s": lex_s / n,
            "query.postings_blocks_read": blocks / n,
            "query.decoded_postings": decoded / n,
            "query.decode_s": decode_s,
            "query.score_shuffle_mb": shuffle / 1e6 / n,
            "query.useful_frac": returned / decoded if decoded else 0.0,
            "query.local_topk_frac": local_topk / n,
            # routing share of search_auto calls only
            "query.auto_wand_frac": auto_wand / auto if auto else 0.0,
            "wand.kernel_busy_s": kernel_ms / 1000.0 / max(wand_plans, 1),
            "wand.blocks_routed": routed / max(wand_plans, 1),
            "wand.useful_frac": wand_returned / kernel_rows if kernel_rows else 0.0,
        }

    def query_texts(self) -> list[str]:
        """Every query text the workload can send."""
        return []

    def read_view(self):
        """The index the window's queries read."""
        return self.index

    def check(self) -> None:
        _check_ranked(self.reqs, lambda state: self.docs)

    def layers(self, store: StatusStore) -> dict[str, float]:
        out = self.spark_layers(store)
        out.update(self.base_layers(store))
        terms = sorted({t for q in self.query_texts()
                        for t in tokenize_queries([(1, q, 10)], self.cfg.tokenizer)["term"]})
        out.update(layers.codec_rates(self.index.index_dir, terms))
        out.update(self.query_layers(store, self.read_view(), self.first_rotation()))
        return out

    def run_query(self, kind: str, fn, queries: list[tuple[int, str, int]], mode: str, view=None):
        """One ranked request; the answer is kept for the check."""
        def call():
            idx = view() if view is not None else self.index
            df = fn(idx, queries, mode=mode)
            return df, df.toPandas()

        req, out = self._request(kind, call)
        req.extra.update(queries=[q for _, q, _ in queries], key=(mode, tuple(queries)))
        if out is None:
            return req
        df, pdf = out
        req.extra.update(n_rows=len(pdf), answer=oracle.as_rows(pdf))
        if self.tracer.enabled:
            self.plans[req.rid] = plan_metrics(df)
        return req


# ---------------------------------------------------------------------------
# build


class BuildWorkload(_IndexedWorkload):
    """Repeated full ``build_index`` of one corpus into fresh directories."""

    name = "build"
    item = "docs"
    n_docs = items_per_request = BUILD_DOCS

    def prepare(self, rep: int) -> None:
        self.make_inputs()
        self.pilot_build(rep)

    def window(self, seconds: float) -> None:
        deadline = time.time() + seconds
        self.built: list[tuple[Request, InvertedIndex]] = []
        while not self.built or time.time() < deadline:
            out = self.path(f"build-{len(self.built)}")
            corpus = self.spark.read.parquet(self.corpus_dir)
            req, idx = self._request(
                "build_index", lambda: build_index(self.spark, corpus, self.cfg, out, id_col="doc_id")
            )
            self.built.append((req, idx))

    def check(self) -> None:
        for req, idx in self.built:
            if req.ok:
                req.ok, req.why = oracle.index_ok(idx, self.docs)

    def items_per_s(self) -> float:
        return self.n_docs / statistics.median(self.request_latencies())

    def human(self) -> list[tuple[str, float, str]]:
        built = [i for _, i in self.built if i is not None]
        ratio = (layers.build_artifacts(built[-1].index_dir, self.input_bytes)
                 ["build.index_bytes_per_input_byte"] if built else 0.0)
        return [("build_docs_per_s", self.items_per_s(), "1/s"),
                ("index_bytes_per_input_byte", ratio, "ratio")]

    def layers(self, store: StatusStore) -> dict[str, float]:
        out = self.spark_layers(store)
        out.update(layers.tokenizer_rates(self.docs["content"]))
        idx = self.built[-1][1]
        out.update(layers.codec_rates(idx.index_dir, list(gen.HOT_TERMS)))
        per_build = [layers.build_artifacts(i.index_dir, self.input_bytes) for _, i in self.built]
        for k in per_build[0]:
            out[k] = statistics.median(b[k] for b in per_build)
        per_build = [build_shuffle(store, store.jobs_in(f"r{req.rid}")) for req, _ in self.built]
        for k in per_build[0]:
            out[k] = statistics.median(b[k] for b in per_build)
        return out


def build_shuffle(store: StatusStore, jobs) -> dict[str, float]:
    stages = store.job_stages(jobs)
    return {
        "build.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
        "build.spill_mb": sum(s.spill_bytes for s in stages) / 1e6,
    }


def _feeds_from_postings(nodes, i: int) -> bool:
    """Whether the Filter at ``nodes[i]`` sits directly on the postings
    scan (through row-conversion wrappers only)."""
    for p in nodes[i + 1:]:
        if p.name not in ("ColumnarToRow", "InputAdapter"):
            return p.name.startswith("Scan") and "postings.parquet" in p.text
    return False


def _raised(e: Exception) -> str:
    return f"raised {type(e).__name__}: {e}"


def _rate(n: float, seconds: float) -> float:
    """``n`` per second; 0 when nothing was timed (every call raised)."""
    return n / seconds if seconds > 0 else 0.0


SURFACES = {"search": search, "search_wand": search_wand, "search_auto": search_auto}


def _check_ranked(reqs: list[Request], docs_for) -> None:
    """Compare every ranked answer with the DuckDB twin, one twin query
    per distinct (corpus state, mode, k) group."""
    groups: dict[tuple, list[Request]] = {}
    for r in reqs:
        if not r.ok:  # raised; already failed
            continue
        groups.setdefault((r.extra.get("state", 0), r.extra["key"][0]), []).append(r)
    for (state, mode), rs in groups.items():
        distinct = sorted({q for r in rs for q in r.extra["key"][1]})
        # the twin numbers queries itself: (text, k) pairs map to new ids
        ids = {q: i + 1 for i, q in enumerate(distinct)}
        want = oracle.expected_topk(docs_for(state), [(ids[q], q[1], q[2]) for q in distinct], mode)
        for r in rs:
            for q in r.extra["key"][1]:
                if r.extra["answer"].get(q[0], []) != want[ids[q]]:
                    r.ok, r.why = False, f"{mode} query {q[1]!r} k={q[2]} differs from DuckDB twin"
                    break


class QueryPointWorkload(_IndexedWorkload):
    """One selective 2-4-term query per request, k=10, rotated through
    ``search``, ``search_wand`` and ``search_auto``."""

    name = "query_point"
    item = "queries"
    rotation = len(SURFACES)

    def prepare(self, rep: int) -> None:
        self.build_base(rep)
        self.stream = gen.point_queries(self.seed, self.docs, self.vocab, POINT_QUERIES)

    def warm_up(self) -> None:
        """Queries from the end of the stream, which the window does not
        reach, through each surface in turn."""
        names = list(SURFACES)
        for i in range(POINT_WARM_ROTATIONS * len(names)):
            mode, text = self.stream[-1 - i]
            SURFACES[names[i % len(names)]](self.index, [(1, text, 10)], mode=mode).toPandas()

    def window(self, seconds: float) -> None:
        deadline = time.time() + seconds
        names = list(SURFACES)
        # whole rotations only, so every surface has the same share of samples
        while (len(self.reqs) < POINT_MIN_ROTATIONS * self.rotation
               or len(self.reqs) % self.rotation or time.time() < deadline):
            r = len(self.reqs)
            mode, text = self.stream[r % len(self.stream)]
            surface = names[r % len(names)]
            self.run_query(surface, SURFACES[surface], [(r % len(self.stream) + 1, text, 10)], mode)

    def items_per_s(self) -> float:
        return len(self.reqs) / sum(self.request_latencies())

    def query_texts(self) -> list[str]:
        return [text for _, text in self.stream]


class QueryBatchHotWorkload(_IndexedWorkload):
    """Each request is a 32-query batch over hot terms: k=1000 through
    ``search``, then k=50,000 through ``search_wand``, alternating."""

    name = "query_batch_hot"
    item = "queries"
    rotation = 2

    @property
    def items_per_request(self) -> int:
        return len(self.stream)

    def prepare(self, rep: int) -> None:
        self.build_base(rep)
        self.stream = gen.hot_queries(self.seed, self.vocab)

    def warm_up(self) -> None:
        search(self.index, [(1, self.stream[0], HOT_K_SEARCH)]).toPandas()
        search_wand(self.index, [(1, self.stream[0], HOT_K_WAND)]).toPandas()

    def window(self, seconds: float) -> None:
        deadline = time.time() + seconds
        while len(self.reqs) % self.rotation or time.time() < deadline:
            if len(self.reqs) % 2 == 0:
                qs = [(i + 1, q, HOT_K_SEARCH) for i, q in enumerate(self.stream)]
                self.run_query("search", search, qs, "disjunctive")
            else:
                qs = [(i + 1, q, HOT_K_WAND) for i, q in enumerate(self.stream)]
                self.run_query("search_wand", search_wand, qs, "disjunctive")

    def items_per_s(self) -> float:
        return len(self.reqs) * len(self.stream) / sum(self.request_latencies())

    def query_texts(self) -> list[str]:
        return self.stream


# ---------------------------------------------------------------------------
# ingest


# the ingest read set: point queries (k=10) alternating between surfaces
READ_SURFACES = ("search", "search_wand")
READ_QUERIES = 6


class IngestWorkload(_IndexedWorkload):
    """Writes beside reads on a fresh copy of the base index. A fixed
    number of write cycles (so every run sees the same segment and
    tombstone trajectory): percolate the arriving batch against the
    registered queries, ``build_segment`` it, ``delete_docs`` on older
    ids, ``maybe_compact``. The read set is then served through
    ``SegmentedIndex.load`` for the rest of the ``seconds`` window, in
    whole rotations over the search surfaces."""

    name = "ingest"
    item = "docs"
    n_docs = INGEST_BASE_DOCS
    rotation = len(READ_SURFACES)

    def prepare(self, rep: int) -> None:
        self.build_base(rep)
        rng = np.random.default_rng((self.seed, 6))
        self.batches, self.deletes = [], []
        live = list(self.docs["doc_id"])
        for c in range(INGEST_CYCLES):
            first = self.n_docs + c * INGEST_BATCH_DOCS
            batch = gen.make_docs(self.seed, INGEST_BATCH_DOCS, first_id=first, vocab=self.vocab, tag=f"b{c}")
            self.batches.append(batch)
            dels = sorted(int(x) for x in rng.choice(live, size=INGEST_BATCH_DOCS // 10, replace=False))
            self.deletes.append(dels)
            live = [d for d in live if d not in set(dels)] + list(batch["doc_id"])
        self.alerts = [(i + 1, q, 0) for i, q in enumerate(gen.percolate_queries(self.seed, self.vocab))]
        self.read_set = [
            (READ_SURFACES[j % len(READ_SURFACES)], [(j + 1, text, 10)], mode)
            for j, (mode, text) in enumerate(gen.point_queries(self.seed, self.docs, self.vocab, READ_QUERIES))
        ]

    def warm_up(self) -> None:
        for surface, queries, mode in self.read_set[: len(READ_SURFACES)]:
            SURFACES[surface](self.index, queries, mode=mode).toPandas()

    def live_docs(self, state: int) -> pd.DataFrame:
        """The corpus after ``state`` cycles."""
        dead = {d for ds in self.deletes[:state] for d in ds}
        df = pd.concat([self.docs, *self.batches[:state]], ignore_index=True)
        return df[~df["doc_id"].isin(dead)].reset_index(drop=True)

    def window(self, seconds: float) -> None:
        deadline = time.time() + seconds
        self.live_dir = self.path("live")
        shutil.copytree(self.index.index_dir, self.live_dir)
        self.write_s = self.write_cpu_s = self.percolate_s = 0.0
        self.writes: dict[str, list[float]] = {"build_segment": [], "delete_docs": [], "load": []}
        self.compactions = 0
        self.percolated: list[tuple[int, pd.DataFrame, object]] = []
        # (cycle, "percolate" | "write") -> why that call failed
        self.call_errors: dict[tuple[int, str], str] = {}
        batch_dfs = [self.spark.createDataFrame(b) for b in self.batches]
        for c in range(INGEST_CYCLES):
            try:
                view = SegmentedIndex.load(self.spark, self.live_dir, self.cfg)
                with self.tracer.span("percolate"):
                    t = time.time()
                    pdf_df = percolate(view, batch_dfs[c], self.alerts)
                    pdf = pdf_df.toPandas()
                    self.percolate_s += time.time() - t
                self.percolated.append((c, pdf, plan_metrics(pdf_df) if self.tracer.enabled else None))
            except Exception as e:  # noqa: BLE001
                self.call_errors[(c, "percolate")] = _raised(e)
            t, cpu = time.time(), self.ctx.cpu()
            try:
                with self.tracer.span("build_segment"):
                    build_segment(self.spark, batch_dfs[c],
                                  os.path.join(segments_root(self.live_dir), f"seg-{c + 1:08d}"),
                                  self.cfg, id_col="doc_id")
                t1 = time.time()
                with self.tracer.span("delete_docs"):
                    delete_docs(self.spark, self.live_dir, self.deletes[c], self.cfg)
                t2 = time.time()
                with self.tracer.span("maybe_compact"):
                    seg = SegmentedIndex.load(self.spark, self.live_dir, self.cfg)
                    out = self.path(f"compact-{c}")
                    if seg.maybe_compact(out) is not None:
                        self.live_dir = out
                        self.compactions += 1
                self.writes["build_segment"].append(t1 - t)
                self.writes["delete_docs"].append(t2 - t1)
            except Exception as e:  # noqa: BLE001
                self.call_errors[(c, "write")] = _raised(e)
            self.write_s += time.time() - t
            self.write_cpu_s += self.ctx.cpu.settle() - cpu
        # reads fill the rest of the window, in whole rotations over the surfaces
        def view():
            t = time.time()
            v = SegmentedIndex.load(self.spark, self.live_dir, self.cfg)
            self.writes["load"].append(time.time() - t)
            return v

        while not self.reqs or len(self.reqs) % self.rotation or time.time() < deadline:
            surface, queries, mode = self.read_set[len(self.reqs) % len(self.read_set)]
            req = self.run_query(surface, SURFACES[surface], queries, mode, view=view)
            req.extra["state"] = INGEST_CYCLES

    def check(self) -> None:
        _check_ranked(self.reqs, self.live_docs)
        for c, pdf, _ in self.percolated:
            want = oracle.expected_percolate(self.live_docs(c), self.batches[c], self.alerts)
            if oracle.percolate_rows(pdf) != want:
                self.call_errors[(c, "percolate")] = "answer differs from DuckDB twin"
        try:
            seg = SegmentedIndex.load(self.spark, self.live_dir, self.cfg)
            ok, why = oracle.segmented_ok(seg, self.live_docs(INGEST_CYCLES))
        except Exception as e:  # noqa: BLE001
            ok, why = False, _raised(e)
        if not ok:
            for c in range(INGEST_CYCLES):
                self.call_errors.setdefault((c, "write"), f"post-ingest view: {why}")

    def extra_calls(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, reasons) of the non-read calls: one
        percolate and one write cycle per cycle, the writes checked
        together through the final view."""
        why = [f"cycle {c} {call}: {w}" for (c, call), w in sorted(self.call_errors.items())]
        return 2 * INGEST_CYCLES, len(self.call_errors), why

    def docs_written(self) -> int:
        return INGEST_CYCLES * INGEST_BATCH_DOCS + sum(len(d) for d in self.deletes)

    def items_per_s(self) -> float:
        return _rate(self.docs_written(), self.write_s)

    def items_per_cpu_s(self) -> float:
        return _rate(self.docs_written(), self.write_cpu_s)

    def human(self) -> list[tuple[str, float, str]]:
        return [
            ("ingest_docs_per_s", self.items_per_s(), "1/s"),
            ("percolate_docs_per_s", _rate(INGEST_CYCLES * INGEST_BATCH_DOCS, self.percolate_s), "1/s"),
        ]

    def query_texts(self) -> list[str]:
        return [q for _, qs, _ in self.read_set for _, q, _ in qs]

    def read_view(self):
        return SegmentedIndex.load(self.spark, self.live_dir, self.cfg)

    def layers(self, store: StatusStore) -> dict[str, float]:
        out = super().layers(store)
        seg = self.read_view()
        kill = seg.kill_pairs()
        out.update({
            "incremental.build_segment_s": statistics.median(self.writes["build_segment"]),
            "incremental.delete_docs_s": statistics.median(self.writes["delete_docs"]),
            "incremental.load_s": statistics.median(self.writes["load"]),
            "incremental.segments": float(len(list_segments(self.live_dir))),
            "incremental.kill_pairs": float(len(kill[0]) if kill is not None else 0),
            "incremental.compactions": float(self.compactions),
        })
        busy = pairs = 0.0
        for _, pdf, nodes in self.percolated:
            pairs += len(pdf)
            busy += sum(p.metrics.get("pythonTotalTime", 0) for p in nodes or [] if p.name == "MapInPandas")
        # the single cycle percolates against the base index's lexicon
        union = set()
        lex = set(self.index.lexicon.select("term").toPandas()["term"])
        for _, q, _ in self.alerts:
            union |= set(tokenize_queries([(1, q, 0)], self.cfg.tokenizer)["term"]) & lex
        out.update({
            "percolate.count_pass_busy_s": busy / 1000.0 / INGEST_CYCLES,
            "percolate.term_union": float(len(union)),
            "percolate.pairs_out": pairs / INGEST_CYCLES,
            "percolate.docs_per_s": _rate(INGEST_CYCLES * INGEST_BATCH_DOCS, self.percolate_s),
        })
        return out


WORKLOADS = {
    w.name: w for w in (BuildWorkload, QueryPointWorkload, QueryBatchHotWorkload, IngestWorkload)
}

# every per-layer metric, in report order; a workload that does not
# exercise a layer reports 0 for it
PER_LAYER = {
    "spark.jobs_per_request": "count", "spark.tasks_per_request": "count",
    "spark.job_wall_s_per_request": "s", "spark.driver_self_s_per_request": "s",
    "spark.busy_frac": "frac", "spark.failed_tasks": "count", "spark.jvm_heap_peak_mb": "MB",
    "spark.managed_memory_peak_mb": "MB",
    "tokenizer.arrow_mb_per_s": "MB/s", "tokenizer.pandas_mb_per_s": "MB/s",
    "codecs.encode_mb_per_s": "MB/s", "codecs.decode_mb_per_s": "MB/s",
    "build.docmap_s": "s", "build.flat_runs_s": "s", "build.docmeta_s": "s",
    "build.lexicon_s": "s", "build.postings_s": "s",
    "build.shuffle_write_mb": "MB", "build.spill_mb": "MB",
    "build.flat_rows": "count", "build.postings_blocks": "count",
    "build.lexicon_terms": "count", "build.hot_terms": "count",
    "build.index_bytes_per_input_byte": "ratio",
    "query.tokenize_s": "s", "query.lexicon_slice_s": "s",
    "query.postings_blocks_read": "count", "query.decoded_postings": "count",
    "query.decode_s": "s", "query.score_shuffle_mb": "MB", "query.useful_frac": "ratio",
    "query.local_topk_frac": "frac", "query.auto_wand_frac": "frac",
    "wand.kernel_busy_s": "s", "wand.blocks_routed": "count", "wand.useful_frac": "frac",
    "incremental.build_segment_s": "s", "incremental.delete_docs_s": "s",
    "incremental.load_s": "s", "incremental.segments": "count",
    "incremental.kill_pairs": "count", "incremental.compactions": "count",
    "percolate.count_pass_busy_s": "s", "percolate.term_union": "count",
    "percolate.pairs_out": "count", "percolate.docs_per_s": "1/s",
    "trace.overhead_s_per_request": "s",
}
