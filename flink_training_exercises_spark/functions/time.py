"""Time scalar functions (SURVEY.md §2.8 F11/F12)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The one watermark delay, maxEventDelay (RideCleansing.java:45): streaming
# queries watermark by WATERMARK, and the oracles cut at the same horizon
# (window end <= max event time - WATERMARK_MS).
WATERMARK_MS = 60 * 1000
WATERMARK = f"{WATERMARK_MS // 1000} seconds"


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def ntz_epoch() -> Column:
    """TIMESTAMP_NTZ '1970-01-01 00:00:00' (lazy: F.expr needs a session)."""
    return F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")


def epoch_ms(ts) -> Column:
    """Epoch milliseconds of a TIMESTAMP_NTZ column -- bit-identical to
    DuckDB's ``epoch_ms(ts)`` on naive timestamps, independent of the
    Spark session timezone (unlike ``unix_millis`` on LTZ timestamps)."""
    return F.timestamp_diff("MILLISECOND", ntz_epoch(), _c(ts))


def epoch_us() -> Column:
    """Epoch MICROseconds of the TIMESTAMP_NTZ ``ts`` column -- the full
    resolution of the testdata's timestamp[us]; bit-identical to DuckDB's
    ``epoch_us(ts)`` on naive timestamps and session-TZ independent. Use it
    as the ORDERING key wherever the oracle orders by raw ``ts``:
    millisecond-truncated epoch_ms ties where full timestamps do not (the
    streaming-SCD2 review catch), the same latent-divergence class as the
    r3 per-side-truncation fact."""
    return F.timestamp_diff("MICROSECOND", ntz_epoch(), F.col("ts"))


def ntz_as_utc_instant() -> Column:
    """The TIMESTAMP_NTZ ``ts`` column as a TIMESTAMP (LTZ) carrying the same
    wall-clock read as a UTC instant, via pure epoch arithmetic --
    independent of the session timezone (a plain cast would shift by the
    session offset). Needed because ``withWatermark`` only accepts
    TIMESTAMP event-time columns."""
    return F.timestamp_micros(F.timestamp_diff("MICROSECOND", ntz_epoch(), F.col("ts")))

