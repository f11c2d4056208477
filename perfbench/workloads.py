"""The workloads, their output checks and their metrics.

Each workload is a closed loop with one client: an operation (a stage of
``scripts/pipeline_cli.py`` or one suite query) starts when the previous
one has finished. A *pass* is one trip through the workload's operations;
the run makes ``min_passes`` passes, and more while its time is not up.
"""

from __future__ import annotations

import contextlib
import io
import json
import random
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import gen
import tracing

#: chess_lake sizing. The openings dimension is a fixed share of Lichess
#: size because the program builds its enrichment plan on the driver in
#: time that grows faster than linearly with the dimension (see README).
N_OPENINGS = 300
GAMES_PER_SOURCE = 500
SOURCES = {"lichess": gen.Source(), "otb": gen.Source(monthly=False, partial_rate=0.04)}
EXPORTED = ("lichess",)
ENRICH_SAMPLE = 300

#: corpus_clean sizing
N_DOCS = 3000

#: The suite's input: a copy of the fixture lake at scale factor 0.01
#: (``TESTDATA.md``, schemas in ``FIXTURES.md``). The queries and their
#: DuckDB oracles read it in place; nothing writes to it.
FIXTURE = Path(__file__).resolve().parent / "fixture" / "sf0.01"
#: Every 20th registered query by name when the benchmark was defined,
#: less two whose layers another of them already enters (dedup_semantic:
#: operators.similarity; stream_dedup_watermark: none beyond the catalog),
#: then, for each program layer none of those enters, the cheapest query
#: that enters it (operators.graph, streaming.jobs, report). Fixed by name
#: so that adding a query to the suite does not change the workload.
SUITE_QUERIES = (
    "activity_islands", "classifier_hashed", "filter_null_predicate", "knn_quantized",
    "pivot", "sample_hash", "user_retention",
    "dedup_priority", "stream_rollup", "length_histogram",
)


@dataclass
class Op:
    kind: str
    key: str
    wall: float
    error: str | None = None
    build_s: float | None = None
    jobs: list[tracing.Job] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=dict)
    #: operator name -> SQL metric -> value, summed over the operation's executions
    operators: dict[str, dict[str, float]] = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {"kind": self.kind, "key": self.key, "wall_s": self.wall, "error": self.error,
                "build_s": self.build_s, "jobs": len(self.jobs), "sql": self.sql,
                "operators": self.operators}

    def driver_s(self) -> float:
        """Wall time not covered by any Spark job."""
        covered, last = 0.0, float("-inf")
        for j in sorted(self.jobs, key=lambda j: j.start):
            lo, hi = max(j.start, last), j.end
            if hi > lo:
                covered += hi - lo
            last = max(last, hi)
        return self.wall - covered


def start_tracer() -> tracing.Tracer:
    tracer = tracing.Tracer()
    tracer.install()
    tracer.active = True
    return tracer


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _cli(argv: list[str]) -> None:
    import pipeline_cli

    with contextlib.redirect_stdout(io.StringIO()):
        pipeline_cli.main([str(a) for a in argv])


class Workload:
    name = ""
    #: passes every run makes, however short ``--seconds``; pass_s is
    #: their median
    min_passes = 1

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.inp = work / "inputs"
        self.seed = seed
        self.spark = None
        self.tracer: tracing.Tracer | None = None
        self.ops: list[Op] = []
        self.pass_walls: list[float] = []
        self.inputs: dict = {}
        self.known_failures: list[str] = []
        self.extra: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------------

    def setup(self, k: int) -> float:
        """Bring Spark up (stopping the previous session), warm it, and
        stage the workload's one-time inputs. Returns the seconds taken."""
        from chess_lakehouse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="chess_lakehouse_pipeline")
        _warm(self.spark)
        self.stage(k)
        return time.perf_counter() - t0

    def stage(self, k: int) -> None:
        pass

    def warm_up(self) -> None:
        """Runs once after the set-ups, untimed and untraced."""

    # -- the measured loop ----------------------------------------------------

    def run(self, seconds: float, tracer: tracing.Tracer | None) -> None:
        self.tracer = tracer
        t_end = time.perf_counter() + seconds
        p = 0
        while len(self.pass_walls) < self.min_passes or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            self.one_pass(p)
            self.pass_walls.append(time.perf_counter() - t0)
            p += 1

    def one_pass(self, p: int) -> None:
        raise NotImplementedError

    def op(self, kind: str, key: str, fn) -> None:
        """Run one operation, timed; with tracing, inside a root span, and
        collect the Spark jobs and SQL metrics it started."""
        tr, spark = self.tracer, self.spark
        if tr is not None:
            job0, exec0 = tracing.last_job_id(spark), tracing.last_execution_id(spark)
            first = len(tr.spans)
            tr.op = len(self.ops)
            root = tr.open(f"bench.{kind}")
        op = Op(kind, key, 0.0)
        t0 = time.perf_counter()
        try:
            op.build_s = fn()
        except Exception as e:  # an operation that raises is a failed operation
            op.error = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300] if str(e).strip() else ''}"
        op.wall = time.perf_counter() - t0
        if tr is not None:
            tr.close(root)
            op.jobs = tracing.spark_jobs(spark, job0)
            tr.attach_jobs(op.jobs, first)
            op.sql, op.operators = tracing.sql_metrics(spark, exec0)
        self.ops.append(op)

    def walls(self, kind: str) -> float:
        return sum(op.wall for op in self.ops if op.kind == kind)

    # -- results --------------------------------------------------------------

    def check(self) -> dict[str, bool]:
        raise NotImplementedError

    def workload_metrics(self) -> dict[str, float]:
        return dict(self.extra)

    def layer_metrics(self, table: dict[str, float]) -> dict[str, float]:
        return {}


def _warm(spark) -> None:
    """Absorb JVM, codegen and Python-worker start-up: one scan and one
    Arrow UDF, as every workload's first operation would otherwise pay."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _plus_one(s):
        return s + 1

    spark.range(1000).select(_plus_one(F.col("id")).alias("x")).agg(F.sum("x")).collect()


def _sum_sql(ops: list[Op], key: str) -> float:
    return sum(op.sql.get(key, 0.0) for op in ops)


# --- chess_lake ----------------------------------------------------------------


class ChessLake(Workload):
    """materialize-openings (set-up), then read-pgn per source, find-openings
    per source and export-parquet, as in the reference's DVC DAG."""

    name = "chess_lake"
    min_passes = 2

    def generate(self) -> None:
        rng = random.Random(self.seed)
        self.openings = gen.openings_dimension(rng, N_OPENINGS)
        gen.write_openings(self.openings, self.inp / "openings_src")
        self.corpus = gen.pgn_corpus(rng, self.openings, self.inp / "pgn", SOURCES, GAMES_PER_SOURCE)
        self.inputs = {"games": len(self.corpus.games), "pgn_bytes": self.corpus.bytes,
                       "openings_rows": len(self.openings), "sources": list(SOURCES),
                       "exported_sources": list(EXPORTED)}

    def stage(self, k: int) -> None:
        self.openings_dir = self.work / f"openings_{k}"
        _cli(["materialize-openings", "--location", self.inp / "openings_src",
              "--target", self.openings_dir])

    def warm_up(self) -> None:
        """One source through the three stages, so that the JIT has
        compiled their code paths before the first measured pass; without
        it, the first pass took 3-7 s longer than the next. A stage that fails
        here fails again, and is counted, in the passes."""
        d, s = self.work / "warm-up", EXPORTED[0]
        with contextlib.suppress(Exception):
            _cli(["read-pgn", "--key", s, "--inDir", self.inp / "pgn" / s, "--outDir", d / "raw" / s])
            _cli(["find-openings", "--key", s, "--inDir", d / "raw" / s, "--outDir", d / "enriched" / s,
                  "--openingsDb", self.openings_dir, "--dataSource", s])
            _cli(["export-parquet", "--inDir", d / "enriched", "--outDir", d / "lake"])

    def one_pass(self, p: int) -> None:
        d = self.work / f"pass{p}"
        for s in SOURCES:
            self.op("read-pgn", s, lambda s=s: _cli([
                "read-pgn", "--key", s, "--inDir", self.inp / "pgn" / s, "--outDir", d / "raw" / s]))
        for s in SOURCES:
            zone = "enriched" if s in EXPORTED else "held"
            self.op("find-openings", s, lambda s=s, zone=zone: _cli([
                "find-openings", "--key", s, "--inDir", d / "raw" / s, "--outDir", d / zone / s,
                "--openingsDb", self.openings_dir, "--dataSource", s]))
        self.op("export-parquet", "lake", lambda: _cli([
            "export-parquet", "--inDir", d / "enriched", "--outDir", d / "lake"]))
        self.last = d

    def check(self) -> dict[str, bool]:
        spark, d = self.spark, self.last
        lake = d / "lake"
        files = [f.relative_to(lake).parts for f in lake.rglob("*.parquet")] if lake.is_dir() else []
        lake_rows = spark.read.parquet(str(lake)).count() if files else -1
        rows = []
        for s in SOURCES:
            zone = "enriched" if s in EXPORTED else "held"
            rows += [tuple(r) for r in spark.read.parquet(str(d / zone / s)).select(
                "Site", "ECO", "Opening", "clean_movetext").collect()]
        sample = random.Random(self.seed + 1).sample(sorted(g.site for g in self.corpus.games),
                                                     ENRICH_SAMPLE)
        checks = check_chess(self.corpus.games, self.openings, rows, sample, lake_rows, files)
        by_site = {r[0]: r[1:] for r in rows}
        unset = [by_site[g.site] for g in self.corpus.games if g.preset is None and g.site in by_site]
        exported_bytes = sum((self.inp / "pgn" / s / "games.pgn").stat().st_size for s in EXPORTED)
        lake_bytes = sum(f.stat().st_size for f in lake.rglob("*.parquet")) if files else 0
        self.extra.update({
            "lake_rows": lake_rows,
            "operators.enrich.match_share":
                sum(1 for r in unset if r[1] is not None) / len(unset) if unset else 0.0,
            "operators.publish.lake_bytes_per_pgn_byte": lake_bytes / exported_bytes,
            "operators.publish.lake_files": len(files),
        })
        self._probe_partial_dates(d)
        return checks

    def _probe_partial_dates(self, d: Path) -> None:
        """Known defect, recorded and kept out of the measured loop: exporting
        the source with partial UTCDate values ('????.??.??', '2019.??.??')
        fails under ANSI mode, where the reference's DuckDB cast does not."""
        try:
            _cli(["export-parquet", "--inDir", d / "held", "--outDir", d / "lake_held"])
        except Exception as e:
            first = str(e).strip().splitlines()[0] if str(e).strip() else type(e).__name__
            self.known_failures.append(
                f"export-parquet over source 'otb' (partial UTCDate values): {first[:200]}")

    def workload_metrics(self) -> dict[str, float]:
        games = len(self.corpus.games)
        exported = sum(g.lake_eligible for g in self.corpus.games if g.source in EXPORTED)
        passes = len(self.pass_walls)
        return {
            **self.extra,
            "ingest_games_per_s": games * passes / self.walls("read-pgn"),
            "enrich_games_per_s": games * passes / self.walls("find-openings"),
            "publish_games_per_s": exported * passes / self.walls("export-parquet"),
        }

    def layer_metrics(self, table: dict[str, float]) -> dict[str, float]:
        read = [op for op in self.ops if op.kind == "read-pgn"]
        export = [op for op in self.ops if op.kind == "export-parquet"]
        return {
            "sources.pgn.python_run_s": _sum_sql(read, "map_in_pandas_run_s"),
            "functions.chess.python_run_s": _sum_sql(self.ops, "arrow_eval_python_run_s"),
            "operators.enrich.exec_s": table.get("cli.find_openings.job_s", 0.0)
            - table.get("operators.enrich.job_s", 0.0),
            "operators.publish.shuffle_write_bytes": _sum_sql(export, "shuffle_write_bytes"),
            "operators.publish.files_written": _sum_sql(export, "files_written"),
        }


# --- corpus_clean --------------------------------------------------------------


class CorpusClean(Workload):
    """corpus_suite's first part: the clean-corpus stage with its default
    gate over a JSONL corpus."""

    def generate(self) -> None:
        self.corpus = gen.jsonl_corpus(random.Random(self.seed), self.inp / "jsonl", N_DOCS)
        clusters: dict[int, list[int]] = {}
        for doc, c in self.corpus.cluster_of.items():
            clusters.setdefault(c, []).append(doc)
        self.clusters = [m for m in clusters.values() if len(m) > 1]
        self.inputs = {"docs": self.corpus.lines, "bytes": self.corpus.bytes,
                       "corrupt_lines": self.corpus.corrupt,
                       "planted_duplicates": sum(len(m) - 1 for m in self.clusters)}

    def one_pass(self, p: int) -> None:
        self.last = self.work / f"pass{p}"
        self.op("clean-corpus", "corpus", lambda: _cli([
            "clean-corpus", "--inDir", self.inp / "jsonl", "--outDir", self.last]))

    def check(self) -> dict[str, bool]:
        out = self.last
        quarantined = sum(
            len(f.read_text().splitlines()) for f in (out / "quarantine").glob("part-*")
        ) if (out / "quarantine").is_dir() else 0
        published = [(r["doc_id"], r["split"]) for r in self.spark.read.json(
            str(out / "corpus")).select("doc_id", "split").collect()] if (out / "corpus").is_dir() else []
        kept = {doc for doc, _ in published}
        planted = sum(len(m) - 1 for m in self.clusters)
        removed = sum(len(m) - len(kept.intersection(m)) for m in self.clusters)
        self.extra.update({
            "published_docs": len(published),
            "operators.dedup.dup_removed_share": removed / planted if planted else 0.0,
        })
        return check_clean(quarantined, self.corpus.corrupt, published)

    def workload_metrics(self) -> dict[str, float]:
        return {**self.extra,
                "clean_docs_per_s": self.corpus.lines * len(self.pass_walls) / self.walls("clean-corpus")}

    def layer_metrics(self, table: dict[str, float]) -> dict[str, float]:
        ops = [op for op in self.ops if op.kind == "clean-corpus"]
        return {
            "cli.clean_corpus.driver_s": sum(op.driver_s() for op in ops),
            "cli.clean_corpus.shuffle_write_bytes": _sum_sql(ops, "shuffle_write_bytes"),
            "cli.clean_corpus.spill_bytes": _sum_sql(ops, "spill_bytes"),
        }


# --- suite_sf01 ----------------------------------------------------------------


class SuiteSf01(Workload):
    """corpus_suite's second part: registered suite queries over the
    fixture lake, each built and then materialized to the noop sink, in a
    fixed order. The fixture is the same for every seed, and so is the
    order: queries share first-touch costs, and a seeded order moved them
    between queries (see README)."""

    def generate(self) -> None:
        import pyarrow.parquet as pq

        from chess_lakehouse_spark import suite

        self.lake = FIXTURE
        names = [q for q in SUITE_QUERIES if q in suite.QUERIES]
        self.order = list(names)
        files = sorted(self.lake.glob("*.parquet"))
        self.inputs = {"queries": self.order, "missing_queries": sorted(set(SUITE_QUERIES) - set(names)),
                       "lake": "fixture/sf0.01",
                       "table_rows": {f.stem: pq.read_metadata(f).num_rows for f in files},
                       "lake_bytes": sum(f.stat().st_size for f in files)}

    def one_pass(self, p: int) -> None:
        from chess_lakehouse_spark import suite

        self.frames = {}
        for name in self.order:
            def run(name=name):
                t0 = time.perf_counter()
                df = suite.QUERIES[name](self.spark, str(self.lake))
                build = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()
                self.frames[name] = df
                return build
            self.op("query", name, run)

    def check(self) -> dict[str, bool]:
        import duckdb

        from chess_lakehouse_spark import suite
        from chess_lakehouse_spark.catalog import TESTDATA_TABLES

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.lake / t}.parquet'")
        bad = []
        for name in sorted(self.order):
            try:
                df = self.frames[name]  # the last pass's frame, executed once more
                got = result_hash([tuple(r) for r in df.collect()], df.columns)
                if name in suite.ORACLES:
                    rel = con.sql(suite.ORACLES[name])
                    want = result_hash(rel.fetchall(), list(rel.columns))
                    if got != want:
                        bad.append(name)
            except Exception:  # a query that raises fails its check
                bad.append(name)
        con.close()
        self.extra["queries_failing_oracle"] = len(bad)
        self.bad_queries = bad
        return {"every_query_matches_oracle": not bad}

    def workload_metrics(self) -> dict[str, float]:
        walls = [op.wall for op in self.ops if op.kind == "query"]
        per_pass = len(self.order)
        return {
            **self.extra,
            "query_p50_s": statistics.median(walls),
            "query_p90_s": statistics.quantiles(walls, n=10)[-1] if len(walls) > 1 else walls[0],
            "suite_wall_s": sum(walls) / (len(walls) / per_pass),
        }

    def layer_metrics(self, table: dict[str, float]) -> dict[str, float]:
        ops = [op for op in self.ops if op.kind == "query"]
        builds = [op.build_s or 0.0 for op in ops]
        jobs = [len(op.jobs) for op in ops]
        return {
            "suite.build_s_p50": statistics.median(builds),
            "suite.build_s_sum": sum(builds),
            "suite.jobs_p50": statistics.median(jobs),
            "suite.jobs_sum": sum(jobs),
            "suite.exec_s": sum(op.wall - (op.build_s or 0.0) for op in ops),
            "suite.python_run_s": _sum_sql(ops, "python_run_s"),
            "suite.shuffle_write_bytes": _sum_sql(ops, "shuffle_write_bytes"),
            "suite.spill_bytes": _sum_sql(ops, "spill_bytes"),
        }


# --- corpus_suite --------------------------------------------------------------


class CorpusSuite(CorpusClean, SuiteSf01):
    """corpus_clean's operation, then suite_sf01's queries, in one pass.
    The two share a run, and so its set-up, to fit the time budget (see
    README); their checks and metrics stay apart."""

    name = "corpus_suite"

    def generate(self) -> None:
        CorpusClean.generate(self)
        corpus = self.inputs
        SuiteSf01.generate(self)
        self.inputs = {**corpus, **self.inputs}

    def one_pass(self, p: int) -> None:
        CorpusClean.one_pass(self, p)
        SuiteSf01.one_pass(self, p)

    def check(self) -> dict[str, bool]:
        return {**CorpusClean.check(self), **SuiteSf01.check(self)}

    def workload_metrics(self) -> dict[str, float]:
        return {**CorpusClean.workload_metrics(self), **SuiteSf01.workload_metrics(self)}

    def layer_metrics(self, table: dict[str, float]) -> dict[str, float]:
        return {**CorpusClean.layer_metrics(self, table), **SuiteSf01.layer_metrics(self, table)}


# --- output checks (pure functions of the outputs and the ground truth) -------


def check_chess(games: list[gen.Game], openings: list[gen.Opening],
                enriched: list[tuple], sample: list[str], lake_rows: int,
                lake_files: list[tuple[str, ...]]) -> dict[str, bool]:
    """``enriched`` holds the (Site, ECO, Opening, clean_movetext) of every
    row the program's enrichment wrote; ``lake_files`` are the lake's
    Parquet files as path parts relative to the lake root."""
    by_site = {g.site: g for g in games}
    sites = [r[0] for r in enriched]
    rows = {r[0]: r[1:] for r in enriched}
    ok_top1 = ok_clean = True
    for site in sample:
        g, r = by_site[site], rows.get(site)
        if r is None:
            ok_top1 = ok_clean = False
            continue
        ok_clean &= r[2] == g.clean
        if g.preset is None:
            ref = gen.top1_opening(g.clean, openings)
            ok_top1 &= r[:2] == ((ref.eco, ref.name) if ref else (None, None))
    return {
        "lake_rows_equal_full_dates_from_1500":
            lake_rows == sum(g.lake_eligible for g in games if g.source in EXPORTED),
        "lake_layout_DataSource_year_month": bool(lake_files) and all(
            len(parts) == 4 and [p.split("=")[0] for p in parts[:3]] == ["DataSource", "year", "month"]
            for parts in lake_files),
        "enriched_rows_are_the_games_once":
            len(sites) == len(games) and set(sites) == set(by_site),
        "preset_openings_untouched": all(
            g.site in rows and rows[g.site][:2] == g.preset for g in games if g.preset),
        "enrich_top1_matches_reference_sample": ok_top1,
        "clean_movetext_matches_reference_sample": ok_clean,
    }


def check_clean(quarantined: int, planted_corrupt: int,
                published: list[tuple[int, str]]) -> dict[str, bool]:
    """``published`` is the (doc_id, split) of every published document."""
    ids = [doc for doc, _ in published]
    train = {doc for doc, split in published if split == "train"}
    evals = {doc for doc, split in published if split == "eval"}
    return {
        "quarantined_equals_planted_corrupt": quarantined == planted_corrupt,
        "published_doc_ids_unique": bool(ids) and len(ids) == len(set(ids)),
        "no_doc_in_both_splits": not (train & evals),
    }


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, (list, tuple)):
        return [_norm_cell(x) for x in v]
    if hasattr(v, "asDict"):
        return {k: _norm_cell(x) for k, x in v.asDict().items()}
    if v is None or isinstance(v, (bool, int, str)):
        return v
    try:
        return repr(float(v))  # Decimal
    except (TypeError, ValueError):
        return str(v)


def result_hash(rows: list[tuple], cols: list[str]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows, columns taken
    in name order."""
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(json.dumps([_norm_cell(r[i]) for i in order], sort_keys=True) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (ChessLake, CorpusSuite)}


# --- per-layer record ----------------------------------------------------------


def per_layer(wl: Workload, tracer: tracing.Tracer) -> dict[str, float]:
    table = tracing.layer_table(tracer.spans)
    out = {k: v for k, v in table.items() if not k.startswith("bench")}
    out.update(wl.layer_metrics(table))
    out.update(wl.workload_metrics())
    out["tracing.spans"] = len(tracer.spans)
    out["tracing.overhead_est_s"] = len(tracer.spans) * _span_cost()
    return out


def _span_cost(n: int = 20000) -> float:
    """Seconds one traced call adds, measured on a no-op function."""
    tr = tracing.Tracer(active=True)
    w = tracing._Wrapped(lambda: None, "calibrate", tr)
    t0 = time.perf_counter()
    for _ in range(n):
        w()
    traced = time.perf_counter() - t0
    t0 = time.perf_counter()
    f = w._fn
    for _ in range(n):
        f()
    return max(0.0, traced - (time.perf_counter() - t0)) / n


def tracing_overhead(wl: Workload, records: Path, workload: str) -> dict | None:
    """Traced minus untraced wall time, per pass and per operation kind,
    against the newest untraced record of the same workload in this
    checkout (None when there is none yet)."""
    runs = sorted(records.glob(f"{workload}-seed*-trace0.json"), key=lambda p: p.stat().st_mtime)
    if not runs:
        return None
    base = json.loads(runs[-1].read_text())
    out = {"untraced_record": runs[-1].name,
           "pass_s": {"untraced": base["end_to_end"]["pass_s"],
                      "traced": statistics.median(wl.pass_walls)}}
    for kind in sorted({op.kind for op in wl.ops}):
        untraced = [o["wall_s"] for o in base["ops"] if o["kind"] == kind]
        traced = [op.wall for op in wl.ops if op.kind == kind]
        if untraced:
            out[kind] = {"untraced": sum(untraced) / (len(untraced) / len(traced) if traced else 1),
                         "traced": sum(traced)}
    for v in out.values():
        if isinstance(v, dict):
            v["overhead_s"] = v["traced"] - v["untraced"]
    return out


def find_openings_accounting(wl: Workload, tracer: tracing.Tracer) -> dict[str, float]:
    """Split the traced find-openings calls' wall time into three parts,
    each measured on its own: the driver time of enrich_top1_mapside (its
    spans' self time minus the Spark jobs submitted directly in them), the
    stage's Spark job time (from Spark's job store) and the driver time of
    every other span of the stage. ``residual_s`` is the wall time none of
    them covers; compare it with the find-openings entry of
    ``tracing_overhead``."""
    ops = {i for i, op in enumerate(wl.ops) if op.kind == "find-openings"}
    enrich = rest = 0.0
    for s, st in zip(tracer.spans, tracing.self_times(tracer.spans)):
        if s.op not in ops:
            continue
        if s.name == "operators.enrich.enrich_top1_mapside":
            enrich += st - s.own_job_s
        else:
            rest += st - s.own_job_s
    wall = sum(wl.ops[i].wall for i in ops)
    driver = sum(wl.ops[i].driver_s() for i in ops)
    return {"stage_wall_s": wall, "stage_job_s": wall - driver, "stage_driver_s": driver,
            "enrich_top1_mapside_driver_s": enrich, "rest_of_stage_driver_s": rest,
            "residual_s": wall - (enrich + (wall - driver) + rest)}
