"""The benchmark workloads: a store is written, then an agent reads it.

Both workloads run the same two phases, so every end-to-end metric exists
on both:

1. **ingest** -- ``backfill``: one ``dice_spark.cli.main`` job (the
   spark-submit job, run in-process) over a parquet transcripts table into
   a fresh warehouse; ``incremental``: ``StreamingPipeline.process_batch``
   micro-batches into a warehouse seeded during set-up.
2. **query** -- one agent client in a closed loop against the store the
   ingest phase wrote. Each query opens the current snapshot via
   ``Warehouse.read``. Queries come in rounds of one ``memory_search``,
   ``neighborhood`` (depth 2), ``path_between`` and entity-scoped
   ``apply_prop_query``, in a seeded order, from Zipf-chosen entities.

The program is called only through its public functions and only on
tables made by ``gen.py`` from the seed. Set-up (session start, store
seeding, the entity ranking the agent draws from and one warm-up query
round that compiles the query plans; generator time excluded) is timed as
``setup_s``.

An ingest operation costs tens of seconds, almost all of it per-job fixed
cost, so a run takes a fixed number of them: the backfill job is the first
job of the session and is timed cold, as a fresh spark-submit job is; the
incremental store seeding is the first, cold, ``process_batch`` and warms
the session for ``BATCHES`` timed batches (``TRACED_BATCHES`` in traced
runs). A seed's stores, and with them the digests and answers pinned for
the seed (and batch count), are therefore the same in every run. The query
phase is the closed loop that ``--seconds`` times, at least
``QUERY_ROUNDS`` rounds. Outputs are checked after each phase. In traced
runs the same phases run with spans (``spans.py``) next to untraced
operations, so the tracing overhead is measured.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import sys
import time
import traceback

import numpy as np

import gen

CONTEXT = "bench"
AS_OF = "2026-06-01 00:00:00"

# Workload parameters; BENCHMARK.json says in one line why each workload
# exists, every run prints the full set.
BACKFILL = gen.Knobs(convs=60, mean_turns=50, names=2000, zipf=1.1, head_share=0.30)
INCREMENTAL = gen.Knobs(
    convs=10, mean_turns=50, names=2000, zipf=1.1, head_share=0.30,
    batch_turns=160, new_share=0.5, continue_share=0.45, redeliver_share=0.05,
)
# Timed incremental micro-batches per run. A traced run takes a spanned and
# a plain one, to measure the tracing overhead. A run's time is mostly the
# session start and the cold store seeding, so more batches do not fit the
# run-time budget.
BATCHES = 1
TRACED_BATCHES = 2
QUERY_ROUNDS = 2  # least timed query rounds per run
QUERY_KINDS = ("memory_search", "neighborhood", "path_between", "prop_query")
QUERY_LAYER = {"memory_search": "agent_memory", "neighborhood": "graphquery",
               "path_between": "graphquery", "prop_query": "propquery"}
TOP_ENTITIES = 400  # entities ranked by mentions; the query arguments come from here
# Popularity ranks the query arguments take. Round r asks kind k (in
# QUERY_KINDS order) about the entity of rank RANKS[(r + k) % len(RANKS)]
# (path_between also about the next rank), so every round mixes the hub
# entities of the Zipf head with tail entities in the same proportions on
# every seed, while the seed fixes the data, the order and the predicates.
RANKS = (0, 1, 3, 7, 15, 31, 63, 127, 255)
PINNED_ANSWERS = 8  # answers pinned per seed in pins.json

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def load_pins() -> dict:
    if not os.path.exists(PINS_PATH):
        return {}
    with open(PINS_PATH) as f:
        return json.load(f)


def quiet(fn, *a, **kw):
    """Run ``fn`` with the program's stdout captured; returns (result, text)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out = fn(*a, **kw)
    return out, buf.getvalue()


def table_digest(df) -> str:
    """Order-insensitive digest: row count and the sum of per-row hashes."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def warehouse_digest(wh) -> dict:
    return {t: table_digest(wh.read(t)) for t in ("entities", "edges", "propositions")}


def dangling_endpoints(wh) -> int:
    """Edge endpoints that are not entities."""
    e = wh.read("edges")
    ends = e.select(e.source_id.alias("entity_id")).union(e.select("target_id"))
    return ends.join(wh.read("entities"), "entity_id", "left_anti").count()


def answer_digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def text_bytes(table) -> int:
    return sum(len(t.encode()) for t in table.column("text").to_pylist())


def cli_main(argv: list[str]) -> dict:
    """``dice_spark.cli.main`` in-process; returns its counters line."""
    from dice_spark import cli

    _, out = quiet(cli.main, argv)
    return json.loads(out.strip().splitlines()[-1])


class Workload:
    """Phases, closed loops, timing and failure accounting."""

    name = ""
    knobs: gen.Knobs
    use_pins = True  # off while pins are recomputed

    def __init__(self, spark, work: str, seed: int, seconds: float, rec=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rec = rec  # spans.Recorder in traced runs, else None
        self.gen_s = 0.0  # generator time, excluded from setup_s
        self.setup_s = 0.0
        self.ingest_s: list[float] = []
        self.ingest_turns: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}
        self.phase_s: dict[str, float] = {}
        self.phase_cpu_s: dict[str, float] = {}
        self.cpu_clock = None  # CPU seconds of the process tree, if set
        # traced runs: operation times with and without spans, per phase
        self.overhead: dict[str, tuple[list[float], list[float]]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, fn, *a, **kw):
        t = time.perf_counter()
        out = fn(*a, **kw)
        self.gen_s += time.perf_counter() - t
        return out

    def timed_setup(self, fn) -> None:
        t, g = time.perf_counter(), self.gen_s
        fn()
        self.setup_s += time.perf_counter() - t - (self.gen_s - g)

    def attempt(self, fn, *a, **kw):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return True, fn(*a, **kw)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False, None

    def fail(self, what: str) -> None:
        print(f"[check failed] {self.name}: {what}", file=sys.stderr)
        self.failed += 1

    def check(self, ok: bool, what: str) -> None:
        """One output check, counted as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    def closed_loop(self, steps, seconds: float, rounds: int = 1) -> float:
        """Run ``steps`` (callables) in turn until ``seconds`` have passed,
        at least ``rounds`` times each; returns the loop's wall time."""
        t0 = time.perf_counter()
        done = 0
        while True:
            for step in steps:
                step()
            done += 1
            if done >= rounds and time.perf_counter() - t0 >= seconds:
                return time.perf_counter() - t0

    def execute(self) -> None:
        self.phase("setup", self.timed_setup, self.setup)
        self.phase("ingest", self.ingest if self.rec is None else self.ingest_traced)
        self.phase("check_ingest", self.check_ingest)
        self.agent = Agent(self, self.store_root())
        self.phase("query_setup", self.timed_setup, self.agent.setup)
        self.phase("query", self.agent.run, self.seconds)
        self.phase("check_query", self.agent.check, self.pinned_answers())

    def phase(self, name: str, fn, *a) -> None:
        c = self.cpu_clock() if self.cpu_clock else 0.0
        t = time.perf_counter()
        fn(*a)
        self.phase_s[name] = time.perf_counter() - t
        if self.cpu_clock:
            self.phase_cpu_s[name] = self.cpu_clock() - c

    def overhead_pair(self, phase: str) -> tuple[list[float], list[float]]:
        return self.overhead.setdefault(phase, ([], []))

    def pins(self) -> dict | None:
        if not self.use_pins:
            return None
        return load_pins().get(self.name, {}).get(str(self.seed))


# --------------------------------------------------------------------------
# backfill


class Backfill(Workload):
    """The ingest operation is one fresh ``cli.main`` job into its own
    warehouse, the first job the session runs, as for a spark-submit
    invocation, so it pays the cold start a real backfill pays; the agent
    then queries that warehouse."""

    name = "backfill"
    knobs = BACKFILL

    def setup(self) -> None:
        tab, _src, _ = self.generate(gen.transcripts, self.seed, BACKFILL)
        self.n_turns = tab.num_rows
        self.text_bytes = self.generate(text_bytes, tab)
        self.input = self.path("transcripts.parquet")
        self.generate(gen.write_parquet, tab, self.input)
        self.results: list[tuple[str, dict]] = []

    def store_root(self) -> str:
        return self.results[0][0] if self.results else self.path("wh-0")

    def _job(self, group: str | None = None) -> float:
        i = len(self.results)
        root = self.path(f"wh-{i}")
        argv = ["--input", self.input, "--warehouse", root, "--backend", "parquet",
                "--context-id", CONTEXT, "--run-id", f"run-{i}"]
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group, False)
        t = time.perf_counter()
        counters = cli_main(argv)
        dt = time.perf_counter() - t
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.results.append((root, counters))
        return dt

    def ingest_op(self, group: str | None = None) -> float | None:
        ok, dt = self.attempt(self._job, group)
        if ok:
            self.ingest_s.append(dt)
            self.ingest_turns.append(self.n_turns)
            return dt
        return None

    def ingest(self) -> None:
        self.ingest_op()

    def ingest_traced(self) -> None:
        """A cold cli.main (its job count is ``cli.jobs``), then the same
        pipeline layer by layer twice: under spans, and with a recorder that
        records nothing. The difference of the two passes is the cost of
        the spans; the untraced pass runs second, so it errs high."""
        from spans import NullRecorder

        self.ingest_op("cli")
        untraced, traced = self.overhead_pair("ingest")
        self.layered_roots = []
        for i, (rec, sink) in enumerate(((self.rec, traced), (NullRecorder(), untraced))):
            root = self.path(f"wh-layered-{i}")
            ok, dt = self.attempt(self._layered_pipeline, rec, root)
            if ok:
                sink.append(dt)
                self.layered_roots.append(root)

    def _layered_pipeline(self, rec, root: str) -> float:
        """run_pipeline and cli.main's writes into the fresh warehouse
        ``root``, one layer at a time under ``rec``'s spans, each layer
        called on the previous layer's materialized output."""
        from pyspark.sql import functions as F

        from dice_spark.functions.normalize import norm_key
        from dice_spark.operators.assembly import assemble_windows, windowed_turns
        from dice_spark.operators.canonicalize import (
            canonicalize_mentions, match_edges, mention_nodes,
        )
        from dice_spark.operators.extraction import extract_triples_udf, triples_to_propositions
        from dice_spark.operators.mention_filter import filter_mention_groups
        from dice_spark.operators.projection import (
            DEFAULT_MIN_CONFIDENCE, classify_projection, project_edges, projection_records,
        )
        from dice_spark.operators.provenance import with_provenance_metadata
        from dice_spark.storage import make_warehouse
        from dice_spark.synth import relations_df

        spark, n = self.spark, self.notes

        def mat(df):
            return df.localCheckpoint(eager=True)

        t = time.perf_counter()
        transcripts = spark.read.parquet(self.input)
        with rec.span("assembly") as s:
            chunks = mat(assemble_windows(transcripts).select(
                "chunk_id", "conv_id", "window_start", "window_end", "content_hash"))
            turns = mat(windowed_turns(transcripts))
            s.rows = turns.count()
        with rec.span("extraction") as s:
            triples = mat(extract_triples_udf(turns))
            s.rows = n["triples"] = triples.count()
        with rec.span("mention_filter") as s:
            mentions = triples.select(
                F.col("subj_span").alias("span"), F.col("subj_type").alias("entity_type")
            ).unionByName(triples.select(
                F.col("obj_span").alias("span"), F.col("obj_type").alias("entity_type")))
            counted = mentions.groupBy("span", "entity_type").agg(F.count(F.lit(1)).alias("n"))
            valid, _rejected = filter_mention_groups(counted)
            valid = mat(valid)
            s.rows = valid.count()
        with rec.span("canonicalize") as s:
            entities, mapping = canonicalize_mentions(valid, CONTEXT, pre_counted=True)
            entities, mapping = mat(entities), mat(mapping)
            s.rows = n["entities"] = entities.count()
        with rec.span("probe"):  # counts for the ratios; not a layer
            nodes = mat(mention_nodes(valid, CONTEXT, pre_counted=True))
            n["nodes"] = nodes.count()
            n["match_pairs"] = match_edges(nodes).count()
        with rec.span("extraction") as s:
            props = mat(triples_to_propositions(triples, CONTEXT))
            s.rows = props.count()
        with rec.span("provenance") as s:
            props = mat(with_provenance_metadata(props, chunks, hash_col="content_hash"))
            s.rows = props.count()
        with rec.span("projection") as s:
            subj_map = mapping.select(F.col("norm_key").alias("_sk"), F.col("type_key").alias("_st"),
                                      F.col("resolved_id").alias("subj_id"))
            obj_map = mapping.select(F.col("norm_key").alias("_ok"), F.col("type_key").alias("_ot"),
                                     F.col("resolved_id").alias("obj_id"))
            props = mat(
                props.withColumn("_sk", norm_key("subj_span")).withColumn("_st", F.lower("subj_type"))
                .withColumn("_ok", norm_key("obj_span")).withColumn("_ot", F.lower("obj_type"))
                .join(subj_map, ["_sk", "_st"], "left").join(obj_map, ["_ok", "_ot"], "left")
                .drop("_sk", "_st", "_ok", "_ot")
            )
            classified = mat(classify_projection(props, relations_df(spark), DEFAULT_MIN_CONFIDENCE))
            edges = mat(project_edges(classified))
            records = mat(projection_records(classified, "run-layered"))
            s.rows = n["edges"] = edges.count()
            n["props"] = props.count()
        wh = make_warehouse(spark, root, backend="parquet")
        with rec.span("storage.merge"):
            wh.merge("propositions", props, keys=["prop_id"])
            wh.merge("entities", entities, keys=["entity_id"])
            wh.merge("edges", edges, keys=["edge_ref"])
            done = chunks.select(
                F.lit(CONTEXT).alias("context_id"), "conv_id", "window_start", "window_end",
                "content_hash", F.current_timestamp().alias("processed_at"))
            wh.merge("processed_chunks", done, keys=["conv_id", "content_hash"])
            wh.append("projection_lineage", records)
        return time.perf_counter() - t

    def check_ingest(self) -> None:
        """Each warehouse: its digest equals the one pinned for the seed,
        every edge endpoint is an entity, and row counts repeat."""
        from dice_spark.storage import Warehouse

        pin = self.pins()
        self.notes["pinned"] = pin is not None
        roots = [r for r, _ in self.results] + getattr(self, "layered_roots", [])
        first = None
        for root in roots:
            wh = Warehouse(root, self.spark)
            d = warehouse_digest(wh)
            first = first or d
            self.check(d == first, f"{root} differs from {roots[0]} (same input)")
            if pin is not None:
                self.check(d == pin["digest"], f"{root} differs from the digest pinned for seed {self.seed}")
            dangling = dangling_endpoints(wh)
            self.check(not dangling, f"{root}: {dangling} edge endpoints are not entities")
        for _root, counters in self.results:
            counts = {k: v for k, v in counters.items() if k.startswith("n_")}
            if pin is not None:
                self.check(counts == pin["counts"], f"row counts {counts} differ from the pinned {pin['counts']}")
        self.digest = first

    def pinned_answers(self) -> list[str] | None:
        pin = self.pins()
        return pin["answers"] if pin else None


# --------------------------------------------------------------------------
# incremental


class Incremental(Workload):
    """``n_batches`` micro-batches of about ``batch_turns`` turns fed
    closed-loop into a warehouse seeded in set-up by one ``process_batch``
    of ``convs`` conversations. trigger=1, so every batch processes every
    turn delivered so far (the drain mode the stream/batch comparison rests
    on)."""

    name = "incremental"
    knobs = INCREMENTAL
    compare_batch = False

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_batches = BATCHES if self.rec is None else TRACED_BATCHES

    def pins(self) -> dict | None:
        """The pin for this seed and batch count; {} if the seed is pinned
        for other batch counts only."""
        by_count = super().pins()
        return None if by_count is None else by_count.get(str(self.n_batches), {})

    def setup(self) -> None:
        from dice_spark.streaming.stream import StreamingPipeline

        tab, src, lengths = self.generate(gen.transcripts, self.seed, INCREMENTAL, False)
        self.stream = self.generate(gen.BatchStream, self.seed, INCREMENTAL, src, lengths, tab)
        self.sp = StreamingPipeline(self.spark, self.path("stream"), context_id=CONTEXT, trigger=1)
        self.batch_id = 0
        self.text_bytes = 0
        self._process(tab)

    def store_root(self) -> str:
        return self.sp.wh.root

    def _process(self, table) -> float:
        path = self.path(f"batch-{self.batch_id}.parquet")
        self.generate(gen.write_parquet, table, path)
        t = time.perf_counter()
        self.sp.process_batch(self.spark.read.parquet(path), self.batch_id)
        dt = time.perf_counter() - t
        self.batch_id += 1
        return dt

    def ingest_op(self, traced: bool = False) -> float | None:
        table = self.generate(self.stream.next)

        def one():
            if not traced:
                return self._process(table)
            self.text_bytes += text_bytes(table)
            with self.rec.span("streaming"):
                return self._process(table)

        ok, dt = self.attempt(one)
        if not ok:
            return None
        self.ingest_s.append(dt)
        self.ingest_turns.append(table.num_rows)
        return dt

    def ingest(self) -> None:
        for _ in range(self.n_batches):
            self.ingest_op()

    def ingest_traced(self) -> None:
        untraced, traced = self.overhead_pair("ingest")
        storage = {"merge": "storage.merge", "append": "storage.merge",
                   "overwrite": "storage.merge", "read": "storage.read"}

        def plain():
            dt = self.ingest_op()
            if dt is not None:
                untraced.append(dt)

        def spanned():
            with self.rec.patched(self.sp.wh, storage):
                dt = self.ingest_op(traced=True)
            if dt is not None:
                traced.append(dt)

        # Traced first: the first batch after the seed is the coldest, so the
        # overhead errs high rather than low.
        spanned()
        plain()

    def check_ingest(self) -> None:
        """Every delivered turn stored exactly once (re-deliveries are
        idempotent), every edge endpoint an entity, and the store equal to
        the digest pinned for the seed. Pinning also
        compares with a batch run (``compare_batch``), which takes too long
        to repeat in every run."""
        from dice_spark.storage import Warehouse

        wh = Warehouse(self.store_root(), self.spark)
        stored, delivered = wh.read("turns").count(), self.stream.all_delivered().num_rows
        self.check(stored == delivered, f"{stored} turns stored for {delivered} delivered")
        dangling = dangling_endpoints(wh)
        self.check(not dangling, f"{dangling} edge endpoints are not entities")
        pin = self.pins()
        self.notes.update(batches=len(self.ingest_s), pinned=bool(pin))
        self.digest = warehouse_digest(wh)
        if pin == {}:
            self.check(False, f"seed {self.seed} is pinned, but not for {self.n_batches} batches")
        elif pin is not None:
            self.check(pin["batches"] == len(self.ingest_s) and self.digest == pin["digest"],
                       f"store after {len(self.ingest_s)} batches differs from the digest pinned "
                       f"for seed {self.seed} and {pin['batches']} batches")
        if self.compare_batch:
            self.compare_with_batch(wh)

    def compare_with_batch(self, stream) -> None:
        """Stream against a ``cli.main`` batch run over the same delivered
        turns: the same propositions (ids, text, spans) and every batch
        entity id present in the stream. Edges that differ are counted, not
        failed: entity clusters are formed per micro-batch (cross-batch
        refinement is left to consolidation) and continued conversations are
        windowed as they arrive, so stream and batch edges differ."""
        from dice_spark.storage import Warehouse

        delivered = self.path("delivered.parquet")
        gen.write_parquet(self.stream.all_delivered(), delivered)
        ref_root = self.path("batch-reference")
        cli_main(["--input", delivered, "--warehouse", ref_root, "--backend", "parquet",
                  "--context-id", CONTEXT, "--no-resume"])
        batch = Warehouse(ref_root, self.spark)

        def rows(wh, table, cols):
            return {tuple(r) for r in wh.read(table).select(*cols).collect()}

        pcols = ["prop_id", "text", "predicate", "subj_span", "obj_span"]
        self.check(rows(stream, "propositions", pcols) == rows(batch, "propositions", pcols),
                   "streamed propositions differ from the batch run")
        s_ent, b_ent = rows(stream, "entities", ["entity_id"]), rows(batch, "entities", ["entity_id"])
        self.check(b_ent <= s_ent, f"{len(b_ent - s_ent)} batch entities are missing from the stream")
        ecols = ["edge_ref", "source_id", "target_id", "edge_type", "confidence", "n_source_props"]
        s_edge, b_edge = rows(stream, "edges", ecols), rows(batch, "edges", ecols)
        self.notes.update(edges=len(s_edge), edges_differing_from_batch=len(s_edge ^ b_edge),
                          entities_split_across_batches=len(s_ent - b_ent))

    def pinned_answers(self) -> list[str] | None:
        pin = self.pins()
        return pin["answers"] if pin else None


# --------------------------------------------------------------------------
# query phase


class Agent:
    """One agent client querying a warehouse in a closed loop."""

    def __init__(self, wl: Workload, root: str):
        from dice_spark.storage import Warehouse

        self.wl = wl
        self.wh = Warehouse(root, wl.spark)
        self.answers: list[tuple[str, tuple, object]] = []
        self.kind_s: dict[str, list[float]] = {k: [] for k in QUERY_KINDS}
        self.query_s: list[float] = []
        self.loop_s = 0.0

    def setup(self) -> None:
        from pyspark.sql import functions as F

        ranked = (
            self.wh.read("entities").orderBy(F.desc("n_mentions"), F.asc("entity_id"))
            .select("entity_id", "canonical_name").limit(TOP_ENTITIES).collect()
        )
        self.entities = [(r["entity_id"], r["canonical_name"]) for r in ranked]
        self.plan = np.random.default_rng([self.wl.seed, 2])
        self.rounds = 0
        # The first round compiles the query plans: its answers are checked,
        # its times are set-up.
        self._round_op(False, timed=False)()

    def _pick(self, i: int) -> int:
        return min(RANKS[i % len(RANKS)], len(self.entities) - 1)

    def _round(self, rng) -> list[tuple[str, tuple]]:
        out, r = [], self.rounds
        self.rounds += 1
        for k in rng.permutation(len(QUERY_KINDS)):
            kind = QUERY_KINDS[k]
            a = self._pick(r + k)
            if kind == "path_between":
                b = self._pick(r + k + 1)
                if b == a:
                    b = (a + 1) % len(self.entities)
                args = (self.entities[a][0], self.entities[b][0])
            elif kind == "memory_search":
                pred = gen.PREDICATES[int(rng.integers(0, len(gen.PREDICATES)))]
                args = (f"Who {pred} {self.entities[a][1]}?",)
            else:
                args = (self.entities[a][0],)
            out.append((kind, args))
        return out

    @staticmethod
    def _prop_entities(props):
        from pyspark.sql import functions as F

        return (
            props.select("prop_id", F.col("subj_id").alias("resolved_id"))
            .unionByName(props.select("prop_id", F.col("obj_id").alias("resolved_id")))
            .filter(F.col("resolved_id").isNotNull())
        )

    def _query(self, kind: str, args: tuple):
        """One agent call: open the snapshot, run, collect the answer."""
        from pyspark.sql import functions as F

        from dice_spark.operators.agent_memory import memory_search
        from dice_spark.operators.graphquery import neighborhood, path_between
        from dice_spark.operators.propquery import PropQuery, apply_prop_query

        if kind == "memory_search":
            props = self.wh.read("propositions")
            rows = memory_search(props, args[0], F.to_timestamp(F.lit(AS_OF)),
                                 prop_entities=self._prop_entities(props)).collect()
            return [(r["prop_id"], r["sources"], r["rrf"]) for r in rows]
        if kind == "neighborhood":
            rows = neighborhood(self.wh.read("edges"), args[0], 2).collect()
            return sorted((r["entity_id"], r["distance"], r["pred"]) for r in rows)
        if kind == "path_between":
            return path_between(self.wh.read("edges"), args[0], args[1])
        props = self.wh.read("propositions")
        q = PropQuery(entity_id=args[0], order_by="EFFECTIVE_CONFIDENCE_DESC",
                      effective_confidence_as_of=AS_OF, limit=20)
        rows = apply_prop_query(props, q, self._prop_entities(props)).collect()
        return [r["prop_id"] for r in rows]

    def _timed(self, kind: str, args: tuple, traced: bool, timed: bool = True) -> float:
        def one():
            t = time.perf_counter()
            if not traced:
                ans = self._query(kind, args)
            else:
                with self.wl.rec.span(QUERY_LAYER[kind]) as s:
                    ans = self._query(kind, args)
                    s.rows = len(ans or ())
            return time.perf_counter() - t, ans

        ok, res = self.wl.attempt(one)
        if not ok:
            return 0.0
        dt, ans = res
        self.answers.append((kind, args, ans))
        if timed:
            self.query_s.append(dt)
            self.kind_s[kind].append(dt)
        return dt

    def _round_op(self, traced: bool, sink: list | None = None, timed: bool = True):
        def go():
            dt = sum(self._timed(kind, args, traced, timed) for kind, args in self._round(self.plan))
            if sink is not None:
                sink.append(dt)
        return go

    def run(self, seconds: float) -> None:
        if self.wl.rec is None:
            self.loop_s = self.wl.closed_loop([self._round_op(False)], seconds, QUERY_ROUNDS)
            return
        untraced, traced = self.wl.overhead_pair("query")
        spanned = self._round_op(True, traced)

        def with_reads():
            with self.wl.rec.patched(self.wh, {"read": "storage.read"}):
                spanned()

        self.wl.closed_loop([self._round_op(False, untraced), with_reads], seconds)

    def check(self, pins: list[str] | None) -> None:
        """neighborhood and path_between against a BFS over the collected
        edges, prop_query against the propositions that mention the entity,
        memory_search for size and rank order; and every answer against the
        digest pinned for the seed, where one is pinned."""
        edges = self.wh.read("edges").select("source_id", "target_id").collect()
        adj: dict[str, set] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        mentions: dict[str, set] = {}
        for r in self.wh.read("propositions").select("prop_id", "subj_id", "obj_id").collect():
            for e in (r["subj_id"], r["obj_id"]):
                if e is not None:
                    mentions.setdefault(e, set()).add(r["prop_id"])
        self.wl.notes["answers_pinned"] = pins is not None
        for n, (kind, args, ans) in enumerate(self.answers):
            if kind == "neighborhood":
                ok = ans == sorted(bfs(adj, args[0], 2))
            elif kind == "path_between":
                ok = path_ok(adj, args[0], args[1], ans)
            elif kind == "prop_query":
                hits = mentions.get(args[0], set())
                ok = len(ans) == min(20, len(hits)) and set(ans) <= hits
            else:
                rrf = [a[2] for a in ans]
                ok = 0 < len(ans) <= 10 and rrf == sorted(rrf, reverse=True)
            if pins is not None and n < len(pins) and pins[n] != answer_digest([kind, args, ans]):
                ok = False
            if not ok:
                self.wl.fail(f"answer {n} ({kind} {args}) is wrong")

    def digests(self) -> list[str]:
        return [answer_digest([k, a, ans]) for k, a, ans in self.answers]


def bfs(adj: dict, start: str, depth: int) -> list[tuple]:
    """Level-synchronous BFS; a node's predecessor is the smallest id on the
    previous level adjacent to it. The start row is left out."""
    seen = {start: (0, None)}
    frontier = [start]
    for d in range(1, depth + 1):
        nxt: dict = {}
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in seen and (v not in nxt or u < nxt[v]):
                    nxt[v] = u
        for v, u in nxt.items():
            seen[v] = (d, u)
        frontier = list(nxt)
    return [(v, d, u) for v, (d, u) in seen.items() if d > 0]


def path_ok(adj: dict, a: str, b: str, path, depth: int = 5) -> bool:
    """A shortest path from a to b within ``depth`` hops, or None if none."""
    dist = {v: d for v, d, _ in bfs(adj, a, depth)}
    dist[a] = 0
    if b not in dist:
        return path is None
    if not path or path[0] != a or path[-1] != b or len(path) != dist[b] + 1:
        return False
    return all(y in adj.get(x, ()) for x, y in zip(path, path[1:]))


WORKLOADS = {"backfill": Backfill, "incremental": Incremental}
