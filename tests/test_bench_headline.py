"""bench.py's headline line, assembled from canned perfbench stdout lines
(no Spark, no subprocess)."""

import json

import bench

EXTRACT_HTML = (
    '{"correct":true,"attempted":600,"failed":0,"metrics":{"docs_per_s":'
    '{"value":57.29382281921074,"unit":"docs/s"},"setup_s":{"value":'
    '29.560740319000615,"unit":"s"},"ok_frac":{"value":1.0,"unit":"ratio"},'
    '"peak_rss_mb":{"value":3176.930304,"unit":"MB"}}}')
CURATE_FUNNEL = (
    '{"correct":true,"attempted":2500,"failed":0,"metrics":{"docs_per_s":'
    '{"value":221.01234567891234,"unit":"docs/s"},"setup_s":{"value":'
    '23.31234567891234,"unit":"s"},"ok_frac":{"value":1.0,"unit":"ratio"},'
    '"peak_rss_mb":{"value":2645.123456,"unit":"MB"}}}')


def _runs() -> dict:
    return {"extract_html": json.loads(EXTRACT_HTML),
            "curate_funnel": json.loads(CURATE_FUNNEL)}


def test_headline_is_one_short_json_line():
    line = bench.headline(_runs(), cpus=4)
    assert "\n" not in line and len(line) <= bench.MAX_CHARS
    got = json.loads(line)
    assert got["metric"] == "extract_docs_per_sec" and got["unit"] == "docs/s"
    assert got["value"] == 57.29382281921074
    assert got["correct"] is True and got["cpus"] == 4
    assert got["workloads"]["curate_funnel"] == {
        "docs_per_s": 221.01234567891234, "setup_s": 23.31234567891234,
        "ok_frac": 1.0, "peak_rss_mb": 2645.123456}
    assert got["ledgers"] == ["perfbench/results/extract_html-seed1-trace0.json",
                              "perfbench/results/curate_funnel-seed1-trace0.json"]


def test_headline_incorrect_when_either_run_failed_a_doc():
    for workload in bench.WORKLOADS:
        runs = _runs()
        # failed > 0 decides even if the run's own flag says correct
        runs[workload]["failed"] = 1
        assert json.loads(bench.headline(runs, cpus=4))["correct"] is False
