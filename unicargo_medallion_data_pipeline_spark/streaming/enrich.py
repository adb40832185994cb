"""Stream-static enrichment joins (SURVEY §2.9 adjunct).

The reference enriches its streaming flights with airline/airport dims
only AFTER landing the bronze stream to a table (a second batch pass);
Structured Streaming supports joining a stream directly against a static
DataFrame — the dim is planned once and (when under the broadcast
threshold) broadcast into every micro-batch, so enrichment costs no
extra job, no state store, and no watermark.

Static-side semantics to know (documented Spark behavior, pinned in
``tests/test_stream_enrich.py``):

* inner and left-outer stream-side joins are supported stateless;
  right/full with the stream on the left are not (they'd need unbounded
  state) — this helper validates and raises up front.
* file-based static sides are re-listed per micro-batch in some source
  configurations, but the JOINED SNAPSHOT is not transactional — for a
  slowly-changing dim, pair this with the SCD2 ``as_of`` view instead
  of mutating the static table in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SUPPORTED = {"inner", "left", "left_outer", "leftouter"}


def enrich_stream(
    stream_df: DataFrame,
    static_dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
) -> DataFrame:
    """Join a streaming DataFrame against a static dimension.

    The dimension carries an explicit broadcast hint — correct for the
    bounded dims this joins (airlines, airports, nations).
    """
    if not stream_df.isStreaming:
        raise ValueError("enrich_stream expects a streaming DataFrame on the left")
    if static_dim.isStreaming:
        raise ValueError("static_dim must be a batch DataFrame (stream-stream "
                         "joins need watermarks — use streaming/joins.py)")
    if how not in _SUPPORTED:
        raise ValueError(
            f"stream-static join supports {sorted(_SUPPORTED)} with the stream "
            f"on the left; got {how!r} (right/full would need unbounded state)"
        )
    keys = [on] if isinstance(on, str) else list(on)
    return stream_df.join(F.broadcast(static_dim), keys, how)
