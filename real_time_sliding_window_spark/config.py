"""Window configuration & validation.

Re-exposes the reference's configuration surface (SURVEY.md §1.3) as plain
dataclasses validated eagerly with ``ValueError``s carrying stable messages:

- window kind (tumbling / sliding / session) generalizes the reference's two
  variants (reference ``FixedTumblingBucketedWindowConfig.kt:36-54``,
  ``OnDemandBucketedWindowConfig.kt:33-48``);
- ``length >= 250 ms`` and ``length % bucket == 0`` mirror the reference's
  constraints verbatim;
- ``max_data`` adds the count-capacity ("data" window) mode demanded by the
  north rule (ring buffer of turns keyed by conv_id);
- ``ViewArgs`` mirrors the on-demand view's 7 argument validations
  (reference ``OnDemandBucketedWindow.kt:81-93``) with the same defaulting
  rules, but takes an explicit ``now`` so tests are deterministic.

Durations are ``datetime.timedelta``; ``interval_str`` renders them as Spark
SQL interval literals at microsecond precision (Spark timestamps are µs — the
reference's 1 ns bucket-gap arithmetic collapses to half-open µs windows; see
SURVEY.md §1.2 note (b)).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta

MIN_LENGTH = timedelta(milliseconds=250)

KINDS = ("tumbling", "sliding", "session")


def as_timedelta(value: timedelta | int | float | str, what: str) -> timedelta:
    """Coerce seconds / Spark-style '10 seconds' strings to timedelta.

    bool, NaN, infinities and amounts beyond ``timedelta``'s range are
    refused with the same ``ValueError`` as any other invalid duration."""
    if isinstance(value, timedelta):
        return value
    seconds = None
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        seconds = value
    elif isinstance(value, str):
        parts = value.strip().split()
        if len(parts) == 2:
            qty, unit = parts
            unit = unit.rstrip("s").lower()
            factors = {
                "microsecond": 1e-6,
                "millisecond": 1e-3,
                "second": 1.0,
                "minute": 60.0,
                "hour": 3600.0,
                "day": 86400.0,
                "week": 604800.0,
            }
            if unit in factors:
                try:
                    seconds = float(qty) * factors[unit]
                except ValueError:
                    pass
    if seconds is not None:
        try:
            return timedelta(seconds=seconds)
        except (OverflowError, ValueError):  # out of range, inf, NaN
            pass
    raise ValueError(f"{what} is not a valid duration: {value!r}")


def interval_str(td: timedelta) -> str:
    """Spark SQL interval literal, µs precision."""
    micros = round(td.total_seconds() * 1_000_000)
    return f"{micros} microseconds"


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise ValueError(msg)


@dataclass(frozen=True)
class WindowSpec:
    """Declarative window configuration (reference config classes, Spark-ified).

    kind='tumbling'  -> F.window(ts, length)
    kind='sliding'   -> F.window(ts, length, slide)
    kind='session'   -> F.session_window(ts, gap)

    ``watermark_delay`` is the event-time lateness bound (no reference
    analogue — reference stamps at insertion; north-rule requirement).
    ``max_data`` is the per-key count capacity (ring buffer, 'data' window);
    ``None`` means unbounded count (pure 'timed' window).
    """

    name: str
    kind: str = "tumbling"
    length: timedelta | int | float | str | None = None
    slide: timedelta | int | float | str | None = None
    gap: timedelta | int | float | str | None = None
    watermark_delay: timedelta | int | float | str = timedelta(seconds=0)
    max_data: int | None = None
    # normalized fields, filled in __post_init__
    _length: timedelta = field(init=False, repr=False, default=MIN_LENGTH)
    _slide: timedelta | None = field(init=False, repr=False, default=None)
    _gap: timedelta | None = field(init=False, repr=False, default=None)
    _watermark: timedelta = field(init=False, repr=False, default=timedelta(0))

    def __post_init__(self) -> None:
        _require(bool(self.name) and not self.name.isspace(), "'name' must not be blank")
        _require(self.kind in KINDS, f"'kind' must be one of {KINDS}, got {self.kind!r}")
        wm = as_timedelta(self.watermark_delay, "'watermark_delay'")
        _require(wm >= timedelta(0), "'watermark_delay' must be >= 0")
        object.__setattr__(self, "_watermark", wm)

        if self.kind == "session":
            _require(self.gap is not None, "'gap' is required for session windows")
            gap = as_timedelta(self.gap, "'gap'")
            _require(gap >= MIN_LENGTH, "'gap' must be >= 250 milliseconds")
            object.__setattr__(self, "_gap", gap)
        else:
            _require(self.length is not None, "'length' is required")
            length = as_timedelta(self.length, "'length'")
            _require(length >= MIN_LENGTH, "'length' must be >= 250 milliseconds")
            object.__setattr__(self, "_length", length)
            if self.kind == "sliding":
                _require(self.slide is not None, "'slide' is required for sliding windows")
            if self.slide is not None:
                slide = as_timedelta(self.slide, "'slide'")
                _require(slide >= MIN_LENGTH, "'slide' must be >= 250 milliseconds")
                _require(length >= slide, "'length' must be >= 'slide'")
                _require(
                    _is_multiple(length, slide),
                    "'length' must be a multiple of 'slide'",
                )
                object.__setattr__(self, "_slide", slide)

        if self.max_data is not None:
            _require(
                isinstance(self.max_data, int)
                and not isinstance(self.max_data, bool)
                and self.max_data >= 1,
                "'max_data' must be an integer >= 1",
            )

    # --- Spark-facing accessors -------------------------------------------
    @property
    def length_interval(self) -> str:
        return interval_str(self._length)

    @property
    def slide_interval(self) -> str | None:
        return interval_str(self._slide) if self._slide is not None else None

    @property
    def gap_interval(self) -> str:
        assert self._gap is not None
        return interval_str(self._gap)

    @property
    def watermark_interval(self) -> str:
        return interval_str(self._watermark)

    @property
    def bucket_count(self) -> int:
        """nonCurrentBucketCount analogue: length / slide."""
        if self._slide is None:
            return 1
        return round(self._length / self._slide)


def _is_multiple(length: timedelta, unit: timedelta) -> bool:
    lm = round(length.total_seconds() * 1e6)
    um = round(unit.total_seconds() * 1e6)
    return um > 0 and lm % um == 0


@dataclass(frozen=True)
class ViewArgs:
    """Validated arguments for the on-demand tumbling-bucketed view.

    Mirrors reference ``OnDemandBucketedWindow.onDemandTumblingBuckets``
    defaulting (``OnDemandBucketedWindow.kt:81-83``) and its 7 validations
    (``OnDemandBucketedWindow.kt:85-93``), with an explicit ``now`` and the
    window ``window_length`` passed in (the reference reads them from the
    instance + wall clock).
    """

    now: datetime
    window_length: timedelta
    start: datetime | None = None
    length: timedelta | None = None
    bucket_length: timedelta | None = None
    _start: datetime = field(init=False, repr=False, default=datetime.min)
    _length: timedelta = field(init=False, repr=False, default=timedelta(0))
    _bucket: timedelta = field(init=False, repr=False, default=timedelta(0))

    def __post_init__(self) -> None:
        now = self.now
        window_start = now - self.window_length
        start = self.start if self.start is not None else now - self.window_length
        length = self.length if self.length is not None else now - start
        bucket = self.bucket_length if self.bucket_length is not None else length

        _require(start <= now, "'start' must not be in the future")
        _require(start >= window_start, "'start' must not be before the window start")
        _require(length > timedelta(0), "'length' must be > 0")
        _require(start + length <= now, "'start' plus 'length' must not be in the future")
        _require(bucket > timedelta(0), "'bucket_length' must be > 0")
        _require(bucket <= length, "'bucket_length' must be <= 'length'")
        _require(
            _is_multiple(length, bucket),
            "'length' must be a multiple of 'bucket_length'",
        )
        object.__setattr__(self, "_start", start)
        object.__setattr__(self, "_length", length)
        object.__setattr__(self, "_bucket", bucket)

    @property
    def resolved_start(self) -> datetime:
        return self._start

    @property
    def resolved_end(self) -> datetime:
        return self._start + self._length

    @property
    def resolved_bucket(self) -> timedelta:
        return self._bucket

    @property
    def n_buckets(self) -> int:
        return round(self._length / self._bucket)
