"""Seeded landing zone of per-record listing JSON files.

Mirrors what the reference crawler writes (FIXTURES.md §1): one
pretty-printed JSON object per listing, `ensure_ascii=False`, named
`house_{id}_{ts}.json` under `house/{YYYY-MM-DD}/`, in the 16-field
`listings.schema.LISTING_SCHEMA` layout. Titles and admin names carry
Vietnamese diacritics, descriptions span several lines, and a seeded
share of ids is re-posted with a later `post_time` (the silver dedup
keeps the latest). A seeded share of records are poison rows, each with a
unique id, that the quarantine gate must divert:

- `lat` is NaN;
- `post_time` lies outside the gate's validity window;
- `area_m2` is 0 and the crawler's naive `price / area` left
  `price_per_m2` non-finite.

`Landing` records what a correct pipeline must produce from the files.
"""

from __future__ import annotations

import datetime as dt
import json
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

DISTRICTS = (
    ("Quận Cầu Giấy", 30),
    ("Quận Đống Đa", 14),
    ("Quận Ba Đình", 9),
    ("Quận Hoàn Kiếm", 6),
    ("Quận Hai Bà Trưng", 8),
    ("Quận Thanh Xuân", 8),
    ("Quận Hoàng Mai", 7),
    ("Quận Long Biên", 5),
    ("Quận Nam Từ Liêm", 5),
    ("Quận Bắc Từ Liêm", 3),
    ("Quận Tây Hồ", 2),
    ("Huyện Gia Lâm", 2),
    ("Huyện Đông Anh", 1),
)
WARDS = ("Phường Dịch Vọng", "Phường Láng Thượng", "Phường Kim Mã", "Phường Tràng Tiền",
         "Phường Bạch Mai", "Xã Đông Dư", "Phường Quảng An", "Thị trấn Trâu Quỳ")
STREETS = ("Đường Xuân Thủy", "Đường Láng", "Đường Kim Mã", "Phố Tràng Tiền",
           "Đường Giải Phóng", "Đường Nguyễn Văn Cừ", "Đường Âu Cơ", "Đường Hồ Tùng Mậu")
TITLE_WORDS = ("Bán", "Cho thuê", "nhà", "căn hộ", "chung cư", "mặt phố", "ngõ rộng",
               "sổ đỏ chính chủ", "giá tốt", "gần hồ", "đầy đủ nội thất", "view đẹp")
DESC_LINES = ("Nhà xây kiên cố, thiết kế hiện đại.", "Gần trường học, chợ, bệnh viện.",
              "Pháp lý rõ ràng, sổ đỏ chính chủ.", "Liên hệ chính chủ, miễn trung gian.",
              "Ô tô đỗ cửa, ngõ thông thoáng.", "Điện nước đầy đủ, an ninh tốt.")
CATEGORIES = ((1020, 175), (1010, 65), (1030, 29), (1040, 26), (1050, 22))
CRAWL_DAYS = ((2025, 12, 10), (2025, 12, 11), (2025, 12, 12), (2025, 12, 13), (2025, 12, 14))
POISON_KINDS = ("nan_lat", "post_time_out_of_window", "zero_area")


@dataclass
class Landing:
    root: Path
    files: int = 0
    input_bytes: int = 0
    lake_ids: int = 0  # distinct ids a correct pipeline keeps
    poison: int = 0  # rows a correct pipeline quarantines
    district_counts: Counter = field(default_factory=Counter)
    district_price_sums: Counter = field(default_factory=Counter)


def epoch_ms(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1000


def _weighted(rng: np.random.Generator, pairs, n: int) -> list:
    vals = [v for v, _ in pairs]
    w = np.array([c for _, c in pairs], dtype=float)
    return [vals[i] for i in rng.choice(len(vals), n, p=w / w.sum())]


def write_landing(root: Path, n_ids: int, seed: int, repost_frac: float = 0.1,
                  poison_frac: float = 0.06) -> Landing:
    """Write n_ids distinct listings (plus re-posts) under root/house/."""
    rng = np.random.default_rng([seed, 7])
    ids = 100_000_000 + rng.choice(30_000_000, n_ids, replace=False)
    n_poison = max(len(POISON_KINDS), round(n_ids * poison_frac))
    poison_kind = {int(i): POISON_KINDS[k % len(POISON_KINDS)] for k, i in enumerate(ids[:n_poison])}
    clean = ids[n_poison:]
    reposted = set(int(i) for i in rng.choice(clean, round(len(clean) * repost_frac), replace=False))

    districts = _weighted(rng, DISTRICTS, n_ids)
    categories = _weighted(rng, CATEGORIES, n_ids)
    land = Landing(root=root, lake_ids=len(clean), poison=n_poison)
    for k, lid in enumerate(int(i) for i in ids):
        day = CRAWL_DAYS[k % len(CRAWL_DAYS)]
        versions = 2 if lid in reposted else 1
        # each version is a later crawl of the same ad: distinct post_time
        base_ms = epoch_ms(*day) + int(rng.integers(3_600_000, 40_000_000))
        for v in range(versions):
            rent = rng.random() < 0.4
            price = int(rng.integers(2, 40)) * 1_000_000 if rent else int(rng.integers(800, 60_000)) * 1_000_000
            if lid not in poison_kind and rng.random() < 0.02:
                price = 0  # zero-vs-null guard: a clean row with a null price_per_m2
            area = int(rng.integers(25, 200))
            rec = {
                "id": lid,
                "title": " ".join(rng.choice(TITLE_WORDS, 5)) + f" {area}m² {districts[k]}",
                "description": "\n".join(rng.choice(DESC_LINES, int(rng.integers(2, 5)))),
                "price": price,
                "area_m2": area,
                "price_per_m2": price / area if price else None,
                "region": "Hà Nội",
                "district": districts[k],
                "ward": str(rng.choice(WARDS)),
                "street": str(rng.choice(STREETS)),
                "lat": round(float(rng.uniform(20.65, 21.28)), 6),
                "lng": round(float(rng.uniform(105.46, 105.94)), 6),
                "property_type": None,
                "category": categories[k],
                "post_time": base_ms + v * 7_200_000,
                "images": int(rng.integers(0, 13)),
            }
            kind = poison_kind.get(lid)
            if kind == "nan_lat":
                rec["lat"] = float("nan")
            elif kind == "post_time_out_of_window":
                rec["post_time"] = int(dt.datetime(1985, 6, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
            elif kind == "zero_area":
                rec["area_m2"] = 0
                rec["price_per_m2"] = float("inf") if price else float("nan")
            d = root / "house" / dt.date(*day).isoformat()
            d.mkdir(parents=True, exist_ok=True)
            body = json.dumps(rec, ensure_ascii=False, indent=2).encode("utf-8")
            (d / f"house_{lid}_{rec['post_time']}.json").write_bytes(body)
            land.files += 1
            land.input_bytes += len(body)
        if kind is None:  # the last version is the one the dedup keeps
            land.district_counts[rec["district"]] += 1
            land.district_price_sums[rec["district"]] += rec["price"]
    return land
