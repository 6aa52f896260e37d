"""Seeded CloudTrail log files for the ingest workload.

The program under test receives only what this module writes. The same
seed always yields the same bytes.
"""

from __future__ import annotations

import datetime
import gzip
import json
from collections import Counter
from dataclasses import dataclass

import numpy as np

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# SNS rejects messages above 256 KB; a body is wrapped only if the whole
# notification fits.
SNS_MAX_BYTES = 256 * 1024
_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


@dataclass
class LogFile:
    name: str
    data: bytes  # gzip-compressed, one JSON object per file
    n_records: int
    sns: bool
    counts: Counter  # records per event_type


def _records_json(rng: np.random.Generator, first_id: int, n: int) -> tuple[list[str], Counter]:
    """n CloudTrail-shaped records in the schema
    ``cloudtrail.unwrap_records`` parses, as JSON strings."""
    types = rng.integers(0, len(EVENT_TYPES), n)
    secs = np.sort(rng.integers(0, 30 * 86400, n)) + _EPOCH_2024
    users = rng.integers(0, 150, n)
    cents = rng.integers(1, 50_000, n)
    props = rng.integers(0, 100, n)
    stamps = [
        datetime.datetime.fromtimestamp(int(s), datetime.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S"
        )
        for s in secs
    ]
    recs = [
        '{"event_id":%d,"ts":"%s","user_id":%d,"event_type":"%s",'
        '"value":%d.%02d,"props":"{\\"k\\": %d}"}'
        % (first_id + i, stamps[i], users[i], EVENT_TYPES[types[i]], cents[i] // 100,
           cents[i] % 100, props[i])
        for i in range(n)
    ]
    counts = Counter(EVENT_TYPES[t] for t in types)
    return recs, counts


def cloudtrail_files(
    seed: int,
    n_files: int,
    records_lo: int,
    records_hi: int,
    sns_share: float,
    tag: str,
) -> list[LogFile]:
    """``n_files`` gzipped CloudTrail objects whose record counts are
    spread evenly over [records_lo, records_hi] in a seeded order, so every
    seed yields the same total. ``round(sns_share * n_files)`` files, chosen
    by the seed, are offered to SNS and wrapped if the notification fits
    SNS's limit. event_ids are unique across the set."""
    rng = np.random.default_rng([seed, sum(map(ord, tag))])
    sizes = rng.permutation(np.linspace(records_lo, records_hi, n_files).round().astype(int))
    offered = set(rng.permutation(n_files)[: round(sns_share * n_files)].tolist())
    out = []
    next_id = 0
    for i, n in enumerate(sizes.tolist()):
        recs, counts = _records_json(rng, next_id, n)
        next_id += n
        body = '{"Records":[' + ",".join(recs) + "]}"
        sns = False
        if i in offered:
            wrapped = json.dumps({"Type": "Notification", "Message": body})
            if len(wrapped.encode()) <= SNS_MAX_BYTES:
                body, sns = wrapped, True
        data = gzip.compress(body.encode() + b"\n", compresslevel=6, mtime=0)
        out.append(LogFile(f"{tag}-{i:05d}.json.gz", data, n, sns, counts))
    return out
