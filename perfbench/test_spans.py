"""Self-test of the span arithmetic and of BENCHMARK.json against run.py.

Run: python3 -m pytest perfbench/test_spans.py   (or python3 perfbench/test_spans.py)
"""

from __future__ import annotations

import json
import os

from spans import (
    FAMILIES, Job, Span, SpanTree, TABLE_FAMILY, covered, driver_gap,
    layer_metrics, per_layer_specs, self_time, union_length,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def job(i, start, end, group=None, run_s=0.0, cpu_s=0.0, stages=1, skipped=0):
    return Job(i, group, start, end, stages, skipped, run_s, cpu_s, 0, 0, 0)


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4), (7, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(3, 4), (0, 1), (1, 2)]) == 3


def test_covered_clips_to_window():
    assert covered(2, 8, [(0, 3), (7, 20)]) == 2
    assert covered(2, 8, [(9, 10)]) == 0


def test_self_time_subtracts_union_of_children():
    parent = Span(1, None, "p", "r", 0.0, 10.0)
    kids = [Span(2, 1, "a", "r", 1.0, 3.0), Span(3, 1, "b", "r", 2.0, 5.0),
            Span(4, 1, "c", "r", 7.0, 8.0), Span(5, 1, "d", "r", 9.5, 12.0)]
    # covered: [1,5] + [7,8] + [9.5,10] = 5.5
    assert self_time(parent, kids) == 4.5
    assert self_time(parent, []) == 10.0


def test_driver_gap_with_overlapping_jobs_from_concurrent_families():
    # Two families submit jobs at once: their intervals overlap, and the
    # time with any job running counts once.
    jobs = [job(0, 1.0, 2.0), job(1, 1.5, 4.0), job(2, 3.0, 3.5), job(3, 9.0, 12.0)]
    assert driver_gap(0.0, 10.0, jobs) == 10.0 - (3.0 + 1.0)
    assert driver_gap(0.0, 10.0, []) == 10.0


def test_jobs_attribute_to_innermost_span():
    spans = [Span(1, None, "pass", "r", 0, 10), Span(2, 1, "query.q", "r", 1, 9),
             Span(3, 2, "closure.transitive_closure", "r", 2, 5)]
    jobs = [job(0, 2.5, 3, "pb3"), job(1, 6, 7, "pb2"), job(2, 7, 8, None),
            job(3, 8, 8.5, "other")]
    tree = SpanTree(spans, jobs)
    assert [j.id for j in tree.own_jobs[3]] == [0]
    assert [j.id for j in tree.own_jobs[2]] == [1]
    assert sorted(j.id for j in tree.subtree_jobs(tree.by_id[2])) == [0, 1]
    assert [j.id for j in tree.unattributed] == [2, 3]


def _build_trace():
    """A build root with two family threads whose spans and jobs overlap."""
    spans = [
        Span(1, None, "build", "r", 100.0, 120.0, thread=1),
        # ontology family, thread 2: ends last
        Span(2, 1, "loaders.build_ontology", "r", 100.5, 110.0, thread=2),
        Span(3, 2, "closure.transitive_closure", "r", 101.0, 109.0, thread=2),
        Span(4, 1, "io.write_table", "r", 110.0, 119.5, thread=2, attrs={"table": "on_pairs"}),
        # genes_exons family, thread 3: overlaps the ontology family
        Span(5, 1, "loaders.load_genes_exons", "r", 100.2, 104.0, thread=3),
        Span(6, 1, "io.write_table", "r", 104.0, 112.0, thread=3, attrs={"table": "gene"}),
    ]
    jobs = [
        job(0, 101.0, 105.0, "pb3", run_s=8.0, cpu_s=6.0, stages=3, skipped=1),
        job(1, 103.0, 108.0, "pb3", run_s=4.0, cpu_s=3.0, stages=2),
        job(2, 104.5, 111.0, "pb6", run_s=10.0, cpu_s=9.0),
        job(3, 112.0, 119.0, "pb4", run_s=5.0, cpu_s=4.0),
        job(4, 100.1, 100.3, None),
    ]
    return spans, jobs


def test_layer_metrics_on_a_concurrent_build():
    spans, jobs = _build_trace()
    m, detail = layer_metrics(spans, jobs, cores=4, queries=["q1"])
    assert m["pipeline.ontology.end_s"] == 19.5
    assert m["pipeline.genes_exons.end_s"] == 12.0
    assert m["pipeline.synteny.end_s"] == 0.0
    assert abs(m["pipeline.concurrency"] - (19.0 + 11.8) / 20.0) < 1e-9
    # build_ontology's self time excludes its closure child
    assert abs(m["loaders.build_ontology.s"] - 1.5) < 1e-9
    assert m["loaders.build_ontology.jobs"] == 0
    assert m["closure.transitive_closure.jobs"] == 2
    assert m["closure.transitive_closure.executor_run_s"] == 12.0
    assert m["io.write_table.on_pairs.s"] == 9.5
    assert m["io.write_table.gene.s"] == 8.0
    assert m["io.write_table.executor_run_s"] == 15.0
    assert m["spark.jobs"] == 5
    assert m["spark.unattributed_jobs"] == 1
    # jobs cover [100.1,100.3] + [101,111] + [112,119] = 17.2 of 20 s
    assert abs(m["spark.driver_gap_s"] - 2.8) < 1e-9
    assert abs(m["spark.cpu_util"] - 22.0 / (20.0 * 4)) < 1e-9
    assert m["spark.stage_reuse_ratio"] == 1 / 8
    assert m["q1.wall_s"] == 0.0
    # blocking path: root self (covered by no family span: [100, 100.2] and
    # [119.5, 120]) plus the latest family's self times: 0.7 + (1.5 + 8 + 9.5)
    assert detail["latest_family"] == "ontology"
    assert abs(detail["blocking_self_s"] - 19.7) < 1e-9
    assert abs(m["trace.blocking_self_share"] - 0.985) < 1e-9


def test_layer_metrics_on_a_sequential_pass():
    spans = [Span(1, None, "pass", "r", 0.0, 10.0), Span(2, 1, "query.q1", "r", 0.0, 6.0),
             Span(3, 2, "components.pagerank", "r", 1.0, 4.0),
             Span(4, 1, "query.q2", "r", 6.0, 10.0)]
    jobs = [job(0, 1.0, 2.0, "pb3", cpu_s=1.0), job(1, 1.5, 3.0, "pb3", cpu_s=2.0),
            job(2, 5.0, 5.5, "pb2", cpu_s=0.5), job(3, 7.0, 9.0, "pb4", cpu_s=4.0)]
    m, detail = layer_metrics(spans, jobs, cores=2, queries=["q1", "q2"])
    assert m["q1.wall_s"] == 6.0 and m["q1.jobs"] == 3
    assert m["q1.driver_gap_s"] == 6.0 - 2.5
    assert m["q1.executor_cpu_s"] == 3.5
    assert m["q2.driver_gap_s"] == 2.0
    assert m["components.pagerank.s"] == 3.0 and m["components.pagerank.jobs"] == 2
    assert m["pipeline.concurrency"] == 0.0
    # a sequential pass is fully covered by its spans' self times
    assert abs(m["trace.blocking_self_share"] - 1.0) < 1e-9


def test_benchmark_json_matches_run_py():
    from run import END_TO_END, QUERIES, WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == WORKLOADS
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(x) for x in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(x) for x in per_layer_specs(QUERIES)]
    assert len(bench["per_layer"]) <= 128
    assert set(TABLE_FAMILY.values()) == set(FAMILIES)


if __name__ == "__main__":
    import sys

    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    sys.exit(0)
