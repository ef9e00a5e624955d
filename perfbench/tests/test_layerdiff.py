from perfbench.layerdiff import diff_rows, render


def test_every_ratio_names_its_base():
    base = {"end_to_end": {"pass_s": {"value": 8.0, "unit": "s"}},
            "per_layer": {"spark.jobs": {"value": 0, "unit": "count"},
                          "plans.build_s": {"value": 2.0, "unit": "s"}}}
    new = {"end_to_end": {"pass_s": {"value": 10.0, "unit": "s"}},
           "per_layer": {"spark.jobs": {"value": 3, "unit": "count"},
                         "plans.build_s": {"value": 1.0, "unit": "s"},
                         "sources.schema_jobs": {"value": 0, "unit": "count"}}}
    rows = {r["metric"]: r for r in diff_rows(base, new)}
    assert rows["pass_s"]["ratio"] == "1.250x of 8 s"
    assert rows["pass_s"]["delta"] == 2.0
    assert rows["plans.build_s"]["ratio"] == "0.500x of 2 s"
    assert rows["spark.jobs"]["ratio"] == "n/a (base 0)"
    assert rows["sources.schema_jobs"]["ratio"] == "absent in base"
    assert [r["block"] for r in diff_rows(base, new)][0] == "end_to_end"
    assert "1.250x of 8 s" in render(list(rows.values()))
