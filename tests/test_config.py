"""F9 validation-error tests (FIXTURES.md §2 F9).

Mirrors the reference's config/view-arg error cases
(FixedTumblingBucketedWindowConfigTest.kt:28-121,
OnDemandBucketedWindowConfigTest.kt:27-56,
OnDemandBucketedWindowTest.kt:94-197) as ValueError with stable messages.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from real_time_sliding_window_spark.config import (
    ViewArgs,
    WindowSpec,
    as_timedelta,
    interval_str,
)

NOW = datetime(2026, 1, 1, 0, 0, 6)
WIN = timedelta(seconds=5)


class TestWindowSpec:
    def test_blank_name(self):
        with pytest.raises(ValueError, match="'name' must not be blank"):
            WindowSpec(name="  ", length=1)

    def test_bad_kind(self):
        with pytest.raises(ValueError, match="'kind' must be one of"):
            WindowSpec(name="w", kind="hopping", length=1)

    def test_length_below_min(self):
        with pytest.raises(ValueError, match="'length' must be >= 250 milliseconds"):
            WindowSpec(name="w", length=timedelta(milliseconds=249))

    def test_length_required(self):
        with pytest.raises(ValueError, match="'length' is required"):
            WindowSpec(name="w", kind="tumbling")

    def test_slide_required_for_sliding(self):
        with pytest.raises(ValueError, match="'slide' is required for sliding"):
            WindowSpec(name="w", kind="sliding", length=10)

    def test_length_ge_slide(self):
        with pytest.raises(ValueError, match="'length' must be >= 'slide'"):
            WindowSpec(name="w", kind="sliding", length=1, slide=2)

    def test_length_multiple_of_slide(self):
        with pytest.raises(ValueError, match="'length' must be a multiple of 'slide'"):
            WindowSpec(name="w", kind="sliding", length=5, slide=2)

    def test_gap_required_for_session(self):
        with pytest.raises(ValueError, match="'gap' is required for session"):
            WindowSpec(name="w", kind="session")

    def test_gap_below_min(self):
        with pytest.raises(ValueError, match="'gap' must be >= 250 milliseconds"):
            WindowSpec(name="w", kind="session", gap=0.1)

    def test_max_data_positive(self):
        for bad in (0, True):
            with pytest.raises(ValueError, match="'max_data' must be an integer >= 1"):
                WindowSpec(name="w", length=1, max_data=bad)

    def test_negative_watermark(self):
        with pytest.raises(ValueError, match="'watermark_delay' must be >= 0"):
            WindowSpec(name="w", length=1, watermark_delay=-1)

    def test_valid_specs(self):
        t = WindowSpec(name="t", length="5 seconds")
        assert t.length_interval == "5000000 microseconds"
        assert t.bucket_count == 1
        s = WindowSpec(name="s", kind="sliding", length=6, slide=2)
        assert s.bucket_count == 3
        assert s.slide_interval == "2000000 microseconds"
        sess = WindowSpec(name="sess", kind="session", gap="30 seconds")
        assert sess.gap_interval == "30000000 microseconds"

    def test_duration_coercions(self):
        assert as_timedelta("250 milliseconds", "x") == timedelta(milliseconds=250)
        assert as_timedelta(2.5, "x") == timedelta(seconds=2.5)
        assert interval_str(timedelta(seconds=1, microseconds=1)) == "1000001 microseconds"
        for bad in (
            "banana", True, float("nan"), float("inf"), 1e20,
            "inf seconds", "nan seconds", "1e12 days",
        ):
            with pytest.raises(ValueError, match=r"^x is not a valid duration"):
                as_timedelta(bad, "x")
        with pytest.raises(ValueError, match="'length' is not a valid duration"):
            WindowSpec(name="w", length=True)


class TestViewArgs:
    """The 7 view-arg validations (OnDemandBucketedWindow.kt:85-93)."""

    def _args(self, **kw):
        return ViewArgs(now=NOW, window_length=WIN, **kw)

    def test_start_in_future(self):
        with pytest.raises(ValueError, match="'start' must not be in the future"):
            self._args(start=NOW + timedelta(seconds=1), length=timedelta(seconds=1))

    def test_start_before_window_start(self):
        with pytest.raises(ValueError, match="'start' must not be before the window start"):
            self._args(start=NOW - WIN - timedelta(seconds=1))

    def test_length_zero(self):
        with pytest.raises(ValueError, match="'length' must be > 0"):
            self._args(start=NOW - timedelta(seconds=2), length=timedelta(0))

    def test_start_plus_length_future(self):
        with pytest.raises(ValueError, match="plus 'length' must not be in the future"):
            self._args(start=NOW - timedelta(seconds=2), length=timedelta(seconds=3))

    def test_bucket_zero(self):
        with pytest.raises(ValueError, match="'bucket_length' must be > 0"):
            self._args(
                start=NOW - timedelta(seconds=2),
                length=timedelta(seconds=2),
                bucket_length=timedelta(0),
            )

    def test_bucket_gt_length(self):
        with pytest.raises(ValueError, match="'bucket_length' must be <= 'length'"):
            self._args(
                start=NOW - timedelta(seconds=2),
                length=timedelta(seconds=2),
                bucket_length=timedelta(seconds=3),
            )

    def test_length_not_multiple_of_bucket(self):
        with pytest.raises(ValueError, match="multiple of 'bucket_length'"):
            self._args(
                start=NOW - timedelta(seconds=3),
                length=timedelta(seconds=3),
                bucket_length=timedelta(seconds=2),
            )

    def test_defaults_no_args(self):
        # reference: start = now - length; length = now - start; bucket = length
        # => one bucket spanning the whole window
        # (OnDemandBucketedWindowTest.kt:336-380)
        a = self._args()
        assert a.resolved_start == NOW - WIN
        assert a.resolved_end == NOW
        assert a.n_buckets == 1

    def test_defaults_start_only(self):
        # (OnDemandBucketedWindowTest.kt:382-428)
        a = self._args(start=NOW - timedelta(seconds=3))
        assert a.resolved_start == NOW - timedelta(seconds=3)
        assert a.resolved_end == NOW
        assert a.n_buckets == 1

    def test_golden_args(self):
        a = self._args(
            start=NOW - timedelta(seconds=4),
            length=timedelta(seconds=3),
            bucket_length=timedelta(seconds=1),
        )
        assert a.n_buckets == 3
        assert a.resolved_end == NOW - timedelta(seconds=1)
