"""The pandas oracle must reproduce the reference's golden vectors
verbatim (tests/test_models.py of /root/reference — cites inline).
These goldens are the authoritative correctness contract (SURVEY.md §5).
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from .reference_oracle import (
    ref_aggregate,
    ref_curve_interpolation,
    ref_range_check,
    ref_rate_of_change,
    ref_regularize,
)

UTC = dt.timezone.utc
GMT2 = dt.timezone(dt.timedelta(hours=2))  # Etc/GMT-2 == UTC+2


def _frame(index, values, flags):
    return pd.DataFrame(
        {"value": np.array(values, dtype=float), "flags": list(flags)},
        index=pd.DatetimeIndex(index),
    )


SEVEN = [dt.datetime(2019, 5, 21, 10, 20, tzinfo=UTC) + dt.timedelta(minutes=10 * i) for i in range(7)]


class TestRangeCheckGolden:
    # reference tests/test_models.py:328-375
    def test_golden(self):
        df = _frame(
            SEVEN,
            [1.5, 2.9, 3.1, np.nan, 3.8, 4.9, 7.2],
            ["", "", "", "", "FLAG1", "FLAG2", "FLAG3"],
        )
        out = ref_range_check(df, lower=2, upper=5, soft_lower=3, soft_upper=4)
        expected = _frame(
            SEVEN,
            [np.nan, 2.9, 3.1, np.nan, 3.8, 4.9, np.nan],
            ["RANGE", "SUSPECT", "", "", "FLAG1", "FLAG2 SUSPECT", "FLAG3 RANGE"],
        )
        pd.testing.assert_frame_equal(out, expected)


class TestRoccGolden:
    # reference tests/test_models.py:470-509
    def test_golden(self):
        df = _frame(
            SEVEN,
            [1.5, 8.9, 3.1, np.nan, 3.8, 11.9, 7.2],
            ["", "", "", "", "FLAG1", "FLAG2", "FLAG3"],
        )
        out = ref_rate_of_change(df, [("10min", 7.0)], symmetric=False)
        expected = _frame(
            SEVEN,
            [1.5, np.nan, 3.1, np.nan, 3.8, np.nan, 7.2],
            ["", "TEMPORAL", "", "", "FLAG1", "FLAG2 TEMPORAL", "FLAG3"],
        )
        pd.testing.assert_frame_equal(out, expected)

    def test_symmetric_flags_negative_change(self):
        df = _frame(SEVEN[:2], [10.0, 2.0], ["", ""])
        out = ref_rate_of_change(df, [("10min", 7.0)], symmetric=True)
        assert out["flags"].tolist() == ["", "TEMPORAL"]

    def test_negative_allowed_diff(self):
        df = _frame(SEVEN[:3], [10.0, 2.0, 11.0], ["", "", ""])
        out = ref_rate_of_change(df, [("10min", -7.0)], symmetric=False)
        assert out["flags"].tolist() == ["", "TEMPORAL", ""]


class TestCurveGolden:
    # reference tests/test_models.py:720-790
    INDEX = [
        dt.datetime(2019, 4, 30, 12, 10, tzinfo=GMT2),
        dt.datetime(2019, 5, 21, 10, 20, tzinfo=GMT2),
        dt.datetime(2019, 5, 21, 10, 30, tzinfo=GMT2),
        dt.datetime(2019, 5, 21, 10, 40, tzinfo=GMT2),
        dt.datetime(2019, 6, 21, 10, 50, tzinfo=GMT2),
        dt.datetime(2019, 6, 21, 11, 0, tzinfo=GMT2),
        dt.datetime(2019, 6, 21, 11, 10, tzinfo=GMT2),
        dt.datetime(2019, 7, 21, 12, 10, tzinfo=GMT2),
    ]
    PERIODS = [
        (dt.date(2019, 5, 1), dt.date(2019, 5, 31), [(3, 100), (4, 150), (5, 175)]),
        (dt.date(2019, 6, 1), dt.date(2019, 6, 30), [(3, 200), (4, 300), (5, 350)]),
    ]

    def test_golden(self):
        df = _frame(
            self.INDEX,
            [3.1, 2.9, 3.1, np.nan, 3.1, 4.9, 7.2, 3.1],
            ["", "", "", "", "", "FLAG1", "FLAG2", ""],
        )
        out = ref_curve_interpolation(df, self.PERIODS)
        expected = _frame(
            self.INDEX,
            [np.nan, np.nan, 105.0, np.nan, 210.0, 345.0, np.nan, np.nan],
            [""] * 8,
        )
        pd.testing.assert_frame_equal(out, expected)


AGG_INDEX = [
    dt.datetime(2019, 5, 21, 10, 0, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 10, 10, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 10, 21, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 10, 31, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 10, 40, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 10, 50, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 11, 0, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 11, 10, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 11, 20, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 11, 30, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 11, 40, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 11, 50, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 12, 0, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 12, 10, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 12, 20, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 12, 30, tzinfo=UTC),
    dt.datetime(2019, 5, 21, 12, 40, tzinfo=UTC),
]
AGG_VALUES = [2, 3, 5, 7, 11, 13, 17, 19, np.nan, 29, 31, 37, 41, 43, 47, 53, 59]


def _agg(max_missing):
    # reference tests/test_models.py:941-1044: regularize @10min then
    # hourly sum with offset 1min.
    df = _frame(AGG_INDEX, AGG_VALUES, [""] * 17)
    reg = ref_regularize(df, "10min")
    # trim uses the RAW source end (models.py:470)
    out = ref_aggregate(
        reg, "10min", "H", "sum", max_missing=max_missing, offset_minutes=1, trim=True
    )
    return out


class TestAggregationGolden:
    def _expect(self, out, rows):
        assert [
            (ts.to_pydatetime().replace(tzinfo=None), v, f)
            for ts, v, f in zip(out.index, out["value"], out["flags"])
        ] == [
            (dt.datetime(2019, 5, 21, *hm), v, f) for hm, v, f in rows
        ]

    def test_max_missing_zero(self):
        self._expect(_agg(0), [((10, 59), 56.0, "")])

    def test_max_missing_one(self):
        self._expect(_agg(1), [((10, 59), 56.0, ""), ((11, 59), 157.0, "MISS")])

    def test_max_missing_five(self):
        self._expect(
            _agg(5),
            [((9, 59), 2.0, "MISS"), ((10, 59), 56.0, ""), ((11, 59), 157.0, "MISS")],
        )

    def test_max_missing_too_high(self):
        self._expect(
            _agg(10000),
            [((9, 59), 2.0, "MISS"), ((10, 59), 56.0, ""), ((11, 59), 157.0, "MISS")],
        )

    def test_empty_input(self):
        out = ref_aggregate(
            _frame([], [], []), "10min", "H", "sum", 0, 1, trim=True
        )
        assert out.empty

    def test_regularize_snaps_off_grid(self):
        df = _frame(AGG_INDEX, AGG_VALUES, [""] * 17)
        reg = ref_regularize(df, "10min", complete=False)
        mins = [ts.minute for ts in reg.index]
        assert 21 not in mins and 31 not in mins
        assert reg.loc[reg.index[2], "flags"] == "DATEINSERT"
