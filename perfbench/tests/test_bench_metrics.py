import pandas as pd
import pytest

import datagen
import gate
from metrics import Outcomes, calibrate, covered, tail


def test_tail_is_the_median_of_each_pass_slowest_query():
    passes = [[0.5, 2.0, 1.0], [0.4, 1.5], [0.6, 9.0, 0.2], []]
    assert tail(passes) == 2.0
    assert tail([[3.0, 1.0]]) == 3.0


def test_calibrate_scales_times_by_the_median_probe():
    # the probe ran twice as slow as on the reference host (one outlier)
    out = calibrate({"pass_s": 8.0, "setup_s": 1.0}, [0.2, 0.2, 0.9], ref_s=0.1)
    assert out == pytest.approx({"pass_s": 4.0, "setup_s": 0.5})


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert covered([]) == 0


class _Frame:
    """Stands in for a Spark DataFrame: the gate only calls toPandas()."""

    def __init__(self, df):
        self.df = df

    def toPandas(self):
        return self.df


def test_injected_oracle_mismatch_counts_in_error_rate(tmp_path):
    data = datagen.generate(str(tmp_path), seed=3, sf=0.001)
    sql = "SELECT r_regionkey, r_name FROM region"
    good = pd.read_parquet(f"{data}/region.parquet")
    bad = good.assign(r_name=good.r_name.where(good.r_regionkey != 2, "ATLANTIS"))

    out = Outcomes()
    for _ in range(3):  # three executions, each checked once
        out.run("q", lambda: None)
    out.run("q good", gate.check, _Frame(good), sql, data, 1, attempt=False)
    out.run("q bad", gate.check, _Frame(bad), sql, data, 1, attempt=False)

    assert (out.attempted, out.failed) == (3, 1)
    assert out.error_rate == pytest.approx(1 / 3)
    assert "value mismatch in r_name" in out.errors[0]


def test_raising_query_counts_as_attempted_and_failed():
    out = Outcomes()
    assert out.run("boom", lambda: 1 / 0) is None
    assert out.run("fine", lambda: 7) == 7
    assert (out.attempted, out.failed, out.error_rate) == (2, 1, 0.5)
