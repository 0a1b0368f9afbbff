"""A small listings landing zone for the ETL tests: one pretty-printed
JSON object per file under `house/<date>/`, the crawler's layout
(`listings.ingest.read_listings_json` reads it).

Record i is deterministic. Every tenth record shares its id with the
next one, so the silver dedup (latest post_time wins) has work. Every
25th record from the fourth on has a NaN latitude and every 25th from
the eighth on a 1985 post_time, so the quarantine gate has work.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

_DAY_MS = 86_400_000
_BASE_MS = int(dt.datetime(2025, 12, 10, tzinfo=dt.timezone.utc).timestamp()) * 1000
_OLD_MS = int(dt.datetime(1985, 6, 1, tzinfo=dt.timezone.utc).timestamp()) * 1000


def write_landing(root: Path, n_files: int) -> str:
    """Write `n_files` listing files under root/house/ and return the
    glob that reads them."""
    for i in range(n_files):
        lid = 1000 + (i + 1 if i % 10 == 0 else i)
        price = (i * 7919 % 5000 + 1) * 1_000_000
        area = 25 + i % 170
        rec = {
            "id": lid,
            "title": f"Bán nhà {area}m² Quận {i % 7}",
            "description": "Nhà xây kiên cố.\nGần chợ, trường học.",
            "price": price,
            "area_m2": area,
            "price_per_m2": price / area,
            "region": "Hà Nội",
            "district": f"Quận {i % 7}",
            "ward": None,
            "street": None,
            "lat": 21.0 + (i % 997) / 7e3,
            "lng": 105.8 + (i % 389) / 3e3,
            "property_type": None,
            "category": 1020,
            "post_time": _BASE_MS + (i % 5) * _DAY_MS + i * 60_000,
            "images": i % 13,
        }
        if i % 25 == 3:
            rec["lat"] = float("nan")
        elif i % 25 == 7:
            rec["post_time"] = _OLD_MS
        d = root / "house" / dt.date(2025, 12, 10 + i % 5).isoformat()
        d.mkdir(parents=True, exist_ok=True)
        (d / f"house_{lid}_{i}.json").write_text(
            json.dumps(rec, ensure_ascii=False, indent=2), encoding="utf-8"
        )
    return str(root / "house" / "*")
