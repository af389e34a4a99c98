"""The Elasticsearch sink's request shape (SURVEY.md §2.1 S8).

The transport is out of scope (no ES endpoint or ``requests`` here), so
only the document and bulk-payload shape of PopularPlacesToES is kept.
"""

from __future__ import annotations

import json


def es_bulk_payloads(rows, index: str, bulk_size: int = 10):
    """Pure bulk-request GENERATOR under the S8 sink: rows become the
    PopularPlacesToES document shape {time, location: 'lat,lon', isStart,
    cnt} (PopularPlacesToES.java:105-148), paired with `index` actions
    and cut into ndjson payloads of `bulk_size` documents. Separated
    from the transport so the request SHAPE is unit-testable without
    `requests` or an endpoint (the two things this container lacks); a
    GENERATOR, not a list, so the executor holds at most one bulk of
    ndjson in memory while streaming a partition -- the same memory
    profile as the pre-refactor inline flush."""
    lines: list[str] = []
    n = 0
    for r in rows:
        lines.append(json.dumps({"index": {"_index": index}}))
        lines.append(
            json.dumps(
                {
                    "time": r["window_end_ms"],
                    "location": f"{r['center_lat']},{r['center_lon']}",
                    "isStart": r["is_start"],
                    "cnt": r["cnt"],
                }
            )
        )
        n += 1
        if n % bulk_size == 0:
            yield "\n".join(lines) + "\n"
            lines.clear()
    if lines:
        yield "\n".join(lines) + "\n"
