"""Fast tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import random
import re
import statistics
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

DECLARED = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _inputs(seed: int, out: Path) -> dict[str, bytes]:
    rng = random.Random(seed)
    openings = gen.openings_dimension(rng, 300)
    gen.write_openings(openings, out / "openings")
    gen.pgn_corpus(rng, openings, out / "pgn", {"a": gen.Source(), "b": gen.Source(False, 0.05)}, 60)
    gen.jsonl_corpus(random.Random(seed), out / "jsonl", 300)
    return {p.relative_to(out).as_posix(): p.read_bytes() for p in sorted(out.rglob("*")) if p.is_file()}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (_inputs(s, tmp_path / d) for s, d in ((7, "a"), (7, "b"), (8, "c")))
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_suite_reads_the_fixture_lake_in_a_fixed_order():
    from chess_lakehouse_spark.catalog import TESTDATA_TABLES

    assert sorted(f.stem for f in workloads.FIXTURE.glob("*.parquet")) == sorted(TESTDATA_TABLES)
    orders = []
    for seed in (1, 1, 2):
        wl = workloads.SuiteSf01(Path("unused"), seed)
        wl.generate()
        orders.append(wl.order)
        assert wl.inputs["table_rows"]["lineitem"] > 50_000
    assert orders[0] == orders[1] == orders[2] == list(workloads.SUITE_QUERIES)


def test_corpus_suite_carries_both_inputs(tmp_path):
    wl = workloads.CorpusSuite(tmp_path, 3)
    wl.generate()
    assert wl.inputs["docs"] > wl.inputs["corrupt_lines"] > 0
    assert wl.inputs["planted_duplicates"] > 0
    assert wl.order == list(workloads.SUITE_QUERIES) and wl.inputs["lake_bytes"] > 0


def test_a_run_makes_its_minimum_passes_and_reports_their_median():
    class Fixed(workloads.Workload):
        min_passes = 3

        def one_pass(self, p):
            time.sleep((0.03, 0.01, 0.02)[p])

    wl = Fixed(Path("unused"), 1)
    wl.run(0.0, None)
    assert len(wl.pass_walls) == 3
    assert statistics.median(wl.pass_walls) == sorted(wl.pass_walls)[1]


def test_pgn_corpus_carries_the_hard_cases(tmp_path):
    rng = random.Random(3)
    openings = gen.openings_dimension(rng, gen.LICHESS_OPENINGS)
    assert len(openings) == gen.LICHESS_OPENINGS
    pgns = [o.pgn for o in openings]
    assert len(set(pgns)) < len(pgns)  # equal-ply ties: same line, other eco/name
    assert sum(any(p != q and q.startswith(p) for q in pgns[:300]) for p in pgns[:300]) > 10
    corpus = gen.pgn_corpus(rng, openings, tmp_path, {"s": gen.Source(False, 0.05)}, 400)
    text = (tmp_path / "s" / "games.pgn").read_text()
    for needle in ("{ ", "( ", "$", "...", '"?"', "\n%", "????.??.??", '[Opening "Preset'):
        assert needle in text, needle
    assert re.search(r"\d+\.[A-Za-z]", text)  # glued move number
    assert re.search(r'\[TimeControl "(blitz|5 min|300\+|1/2/3)"\]', text)
    assert re.search(r'\[UTCDate "\d{4}\.\?\?\.\?\?"\]', text)
    assert any(g.date.startswith("14") for g in corpus.games)
    assert 0 < sum(not g.lake_eligible for g in corpus.games) < len(corpus.games) // 5


def test_reference_top1_prefers_longest_then_eco_then_name():
    o = lambda eco, name, plies: gen.Opening(eco, name, plies, " ".join("e2e4" for _ in plies))  # noqa: E731
    short = o("C20", "King's Pawn", ("e4",))
    tie_b = o("C44", "B line", ("e4", "e5", "Nf3"))
    tie_a = o("C44", "A line", ("e4", "e5", "Nf3"))
    tie_eco = o("C50", "A line", ("e4", "e5", "Nf3"))
    other = o("A00", "Other", ("d4",))
    game = gen.clean_movetext(["e4", "e5", "Nf3", "Nc6"])
    assert gen.top1_opening(game, [short, tie_b, tie_eco, tie_a, other]) is tie_a
    assert gen.top1_opening(gen.clean_movetext(["c4"]), [short, other]) is None


def test_jsonl_corpus_plants_clusters_and_corrupt_lines(tmp_path):
    corpus = gen.jsonl_corpus(random.Random(5), tmp_path, 900)
    lines = [ln for f in sorted(tmp_path.glob("*.jsonl")) for ln in f.read_text().splitlines()]
    bad = 0
    for ln in lines:
        try:
            json.loads(ln)
        except json.JSONDecodeError:
            bad += 1
    assert bad == corpus.corrupt > 0
    assert len(lines) == corpus.lines
    assert 0.2 < len(corpus.cluster_of) / corpus.lines < 0.45


def _span(name, parent, start, end, op=0):
    return tracing.Span(name, op, parent, start, end)


def test_self_time_is_duration_minus_children():
    spans = [
        _span("cli.find_openings", None, 0.0, 10.0),
        _span("plans.pipeline.enrich", 0, 1.0, 7.0),
        _span("operators.enrich.enrich_top1_mapside", 1, 2.0, 6.5),
        _span("session.get_spark", 0, 8.0, 8.5),
    ]
    assert tracing.self_times(spans) == pytest.approx([3.5, 1.5, 4.5, 0.5])
    table = tracing.layer_table(spans)
    assert table["cli.find_openings_s"] == pytest.approx(10.0)
    assert table["cli.find_openings.self_s"] == pytest.approx(3.5)
    assert table["operators.enrich.enrich_top1_mapside.self_s"] == pytest.approx(4.5)
    assert table["operators.enrich.calls"] == 1
    assert sum(tracing.self_times(spans)) == pytest.approx(10.0)


def test_recursion_inside_a_layer_is_not_counted_twice():
    spans = [
        _span("operators.graph.connected_components", None, 0.0, 4.0),
        _span("operators.graph.connected_components", 0, 1.0, 3.0),
        _span("operators.graph.edges", 1, 1.5, 2.0),
    ]
    spans[0].jobs, spans[0].job_s = 2, 1.0
    spans[1].jobs, spans[1].job_s = 1, 0.5
    table = tracing.layer_table(spans)
    assert table["operators.graph_s"] == pytest.approx(4.0)
    assert table["operators.graph.connected_components_s"] == pytest.approx(4.0)
    assert table["operators.graph.connected_components.calls"] == 2
    assert table["operators.graph.jobs"] == 2
    assert table["operators.graph.self_s"] == pytest.approx(4.0)


def test_jobs_count_in_every_open_span_and_driver_time_excludes_them():
    tr = tracing.Tracer()
    tr.spans = [_span("cli.read_pgn", None, 0.0, 10.0), _span("sources.pgn.read_pgn", 0, 1.0, 2.0)]
    jobs = [tracing.Job(1, 1.5, 4.0), tracing.Job(2, 3.0, 5.0), tracing.Job(3, 11.0, 12.0)]
    tr.attach_jobs(jobs)
    assert (tr.spans[0].jobs, tr.spans[1].jobs) == (2, 1)
    assert tr.spans[0].job_s == pytest.approx(4.5)
    # each job is the own job of the innermost span open at its submission
    assert (tr.spans[0].own_jobs, tr.spans[1].own_jobs) == (1, 1)
    assert (tr.spans[0].own_job_s, tr.spans[1].own_job_s) == pytest.approx((2.0, 2.5))
    op = workloads.Op("read-pgn", "a", 10.0, jobs=[tracing.Job(1, 1.5, 4.0), tracing.Job(2, 3.0, 5.0)])
    assert op.driver_s() == pytest.approx(10.0 - 3.5)


def test_find_openings_accounting_measures_each_part_on_its_own():
    wl = workloads.ChessLake(Path("unused"), 1)
    tr = tracing.Tracer()
    tr.spans = [
        tracing.Span("bench.find-openings", 0, None, 0.0, 10.0),
        tracing.Span("cli.find_openings", 0, 0, 0.1, 9.9),
        tracing.Span("operators.enrich.enrich_top1_mapside", 0, 1, 1.0, 6.0),
        tracing.Span("sources.pgn.read_pgn", 1, None, 10.0, 12.0),  # another operation
    ]
    jobs = [tracing.Job(1, 5.0, 5.5), tracing.Job(2, 7.0, 9.0)]
    tr.attach_jobs(jobs)
    wl.ops = [workloads.Op("find-openings", "a", 10.0, jobs=jobs),
              workloads.Op("read-pgn", "a", 2.0)]
    acc = workloads.find_openings_accounting(wl, tr)
    assert acc["stage_wall_s"] == pytest.approx(10.0)
    assert acc["stage_job_s"] == pytest.approx(2.5)
    assert acc["enrich_top1_mapside_driver_s"] == pytest.approx(4.5)
    assert acc["rest_of_stage_driver_s"] == pytest.approx(3.0)
    assert acc["residual_s"] == pytest.approx(0.0)
    wl.ops[0].wall = 10.4  # time the spans do not cover shows as residual
    assert workloads.find_openings_accounting(wl, tr)["residual_s"] == pytest.approx(0.4)


def test_traced_function_pickles_as_the_original():
    import pickle

    w = tracing._Wrapped(gen.clean_movetext, "x", tracing.Tracer())
    assert pickle.loads(pickle.dumps(w)) is gen.clean_movetext


def test_parse_metric():
    assert tracing.parse_metric("1,000") == 1000
    assert tracing.parse_metric("0.0 B") == 0
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n6.5 s (2.2 s, 2.2 s)") == 6.5
    assert tracing.parse_metric("total (min, med, max)\n8.2 KiB (2.7 KiB)") == pytest.approx(8.2 * 1024)
    assert tracing.parse_metric("total (min, med, max)\n49 ms (8 ms)") == pytest.approx(0.049)


def test_plan_metrics_reads_the_dot_rendering():
    dot = (
        '  5 [id="node5" labelType="html" label="<b>Exchange</b><br><br>shuffle records written: 21'
        '<br>shuffle bytes written total (min, med, max (stageId: taskId))<br>723.0 B (237.0 B, 243.0 B)"'
        ' tooltip="Exchange hashpartitioning"];\n'
        '  9 [id="node9" labelType="html" label="<b>ArrowEvalPython</b><br><br>time to run Python '
        'workers total (min, med, max (stageId: taskId))<br>6.5 s (2.2 s, 2.2 s)<br>number of output '
        'rows: 1,000" tooltip="ArrowEvalPython [f(id)]"];\n'
        '  1 [id="node1" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="x"];')
    assert list(tracing.plan_metrics(dot)) == [
        ("Exchange", "shuffle records written", 21.0),
        ("Exchange", "shuffle bytes written", 723.0),
        ("ArrowEvalPython", "time to run Python workers", 6.5),
        ("ArrowEvalPython", "number of output rows", 1000.0),
    ]


def _chess_case():
    rng = random.Random(11)
    openings = gen.openings_dimension(rng, 200)
    games = []
    for i, plies in enumerate([list(o.plies) + ["a6", "h3"] for o in openings[:20]]):
        preset = ("B01", "Preset Line") if i % 5 == 0 else None
        games.append(gen.Game(f"s{i}", workloads.EXPORTED[0], plies, "2020.01.02", preset))
    games.append(gen.Game("old", workloads.EXPORTED[0], ["e4"], "1475.01.02", None))
    rows = {}
    for g in games:
        ref = gen.top1_opening(g.clean, openings)
        eco_name = g.preset or ((ref.eco, ref.name) if ref else (None, None))
        rows[g.site] = (*eco_name, g.clean)
    rows = [(site, *r) for site, r in rows.items()]
    files = [(f"DataSource={workloads.EXPORTED[0]}", "year=2020", "month=01", "part-0.parquet")]
    return games, openings, rows, [g.site for g in games], len(games) - 1, files


def _replace(rows, site, new):
    return [new if r[0] == site else r for r in rows]


def test_chess_checker_accepts_correct_and_rejects_corrupted_outputs():
    games, openings, rows, sample, n, files = _chess_case()
    assert all(workloads.check_chess(games, openings, rows, sample, n, files).values())
    by_site = {r[0]: r for r in rows}
    site = next(g.site for g in games if g.preset is None and by_site[g.site][1])
    wrong_eco = _replace(rows, site, (site, "Z99", *by_site[site][2:]))
    assert not workloads.check_chess(games, openings, wrong_eco, sample, n, files)[
        "enrich_top1_matches_reference_sample"]
    pre = next(g.site for g in games if g.preset)
    overwritten = _replace(rows, pre, (pre, "C00", "Enriched anyway", by_site[pre][3]))
    assert not workloads.check_chess(games, openings, overwritten, sample, n, files)[
        "preset_openings_untouched"]
    fanned_out = rows + [by_site[site]]  # enrichment that duplicates a game
    assert not workloads.check_chess(games, openings, fanned_out, sample, n, files)[
        "enriched_rows_are_the_games_once"]
    assert not workloads.check_chess(games, openings, rows[1:], sample[1:], n, files)[
        "enriched_rows_are_the_games_once"]
    assert not workloads.check_chess(games, openings, rows, sample, n + 1, files)[
        "lake_rows_equal_full_dates_from_1500"]
    flat = [("year=2020", "month=01", "part-0.parquet")]
    assert not workloads.check_chess(games, openings, rows, sample, n, flat)[
        "lake_layout_DataSource_year_month"]
    bad_clean = _replace(rows, site, (*by_site[site][:3], "1. e4"))
    assert not workloads.check_chess(games, openings, bad_clean, sample, n, files)[
        "clean_movetext_matches_reference_sample"]


def test_clean_checker_rejects_corrupted_outputs():
    good = [(1, "train"), (2, "train"), (3, "eval")]
    assert all(workloads.check_clean(4, 4, good).values())
    assert not workloads.check_clean(3, 4, good)["quarantined_equals_planted_corrupt"]
    assert not workloads.check_clean(4, 4, good + [(2, "train")])["published_doc_ids_unique"]
    assert not workloads.check_clean(4, 4, good + [(1, "eval")])["no_doc_in_both_splits"]


def test_result_hash_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 0.5), (2, "b", None)]
    h = workloads.result_hash(rows, ["k", "s", "v"])
    assert workloads.result_hash(rows[::-1], ["k", "s", "v"]) == h
    assert workloads.result_hash([(r[2], r[0], r[1]) for r in rows], ["v", "k", "s"]) == h
    assert workloads.result_hash([(1, "a", 0.5), (2, "c", None)], ["k", "s", "v"]) != h
    assert workloads.result_hash(rows[:1], ["k", "s", "v"])[0] == 1


def test_printed_metrics_are_exactly_the_declared_ones():
    assert [m["name"] for m in DECLARED["end_to_end"]] == list(run.END_TO_END)
    values = {"setup_s": 1.0, "pass_s": 2.0, "extra": 1}
    line = run.result_line(DECLARED, values, False, True, 3, 0)
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert list(line["metrics"]) == list(run.END_TO_END)
    traced = run.result_line(DECLARED, {"session.calls": 3, "not.declared": 1}, True, True, 3, 0)
    assert list(traced["metrics"]) == [m["name"] for m in DECLARED["per_layer"]]


def test_benchmark_json_keeps_to_its_limits():
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    assert set(DECLARED) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(DECLARED["workloads"]) <= 8 and 1 <= len(DECLARED["per_layer"]) <= 128
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in DECLARED[k]]
    assert all(name.match(n) for n in names)
    assert len(names) == len(set(names))
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in DECLARED["workloads"])
    assert all(unit.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in DECLARED[k])
    assert all(0 < m["bound"] <= 0.25 for m in DECLARED["end_to_end"])
    setup = next(m for m in DECLARED["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in DECLARED["end_to_end"])
    assert {w["name"] for w in DECLARED["workloads"]} == set(workloads.WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path, monkeypatch, capsys):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(DECLARED))
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "chess_lake", "--seed", "1", "--seconds", "1"]) != 0
    assert "{" not in capsys.readouterr().out
