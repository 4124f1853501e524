"""Seeded Enefit-shaped landing generator for the medallion workload.

Follows the FIXTURES.md shapes (and ``tests/enefit_fixtures.py``) but is
organised by ``data_block_id``: a *drop* holds every row of the chosen
blocks across the six fact feeds, plus the two static dimensions. Each
block's rows come from an RNG keyed on (seed, feed, block), so a block
reads the same whether it lands in the cold build's drop or alone as an
increment — which is what lets "K increments" and "one cold build over
the same blocks" be compared row for row.

Block layout (day index = offset from ``T0``; blocks 0-1 carry days
before ``T0``): train and client rows of day b-2, electricity and gas
rows of day b-1, historical weather hours <11 of day b-1 and hours >=11
of day b-2, forecast origins of day b. Client has no rows for blocks
0-1, and gold filters those blocks out.
"""

from __future__ import annotations

import csv
import json
import random
from datetime import datetime, timedelta
from pathlib import Path

T0 = datetime(2024, 1, 1)
PRODUCTS = (0, 1, 2, 3)
FILTERED_COUNTY = 12
# one client combo with no rows: gold keeps those train rows with NULL
# client measures (post-join nulls, FIXTURES.md client.csv)
MISSING_CLIENT = (1, 1, 1)  # (county, is_business, product_type)
GOLD_KEY = ("datetime", "county", "product_type", "is_business", "is_consumption")

TRAIN_COLS = [
    "row_id",
    "county",
    "is_business",
    "product_type",
    "target",
    "is_consumption",
    "datetime",
    "data_block_id",
    "prediction_unit_id",
]
HIST_COLS = [
    "datetime",
    "latitude",
    "longitude",
    "temperature",
    "dewpoint",
    "rain",
    "snowfall",
    "surface_pressure",
    "cloudcover_total",
    "windspeed_10m",
    "data_block_id",
]
FCST_COLS = [
    "latitude",
    "longitude",
    "origin_datetime",
    "hours_ahead",
    "forecast_datetime",
    "temperature",
    "dewpoint",
    "snowfall",
    "cloudcover_total",
    "data_block_id",
]


def stations(counties: int) -> list[tuple[float, float, int | None, str | None]]:
    """One labeled station per county on a 1-decimal grid, plus two
    unlabeled ones (NULL county) for the nearest-station assignment.
    At most two stations then share a county, so every county-hour
    weather mean is over at most two values."""
    out = [
        (round(57.5 + 0.3 * c, 1), round(22.0 + 0.6 * (c % 6), 1), c, f"county_{c}")
        for c in range(counties)
    ]
    out += [(57.6, 22.3, None, None), (round(57.5 + 0.3 * (counties - 1), 1), 25.1, None, None)]
    return out


def _rng(seed: int, feed: str, block: int) -> random.Random:
    return random.Random(f"{seed}:{feed}:{block}")


def _hours(day: int) -> list[datetime]:
    start = T0 + timedelta(days=day)
    return [start + timedelta(hours=h) for h in range(24)]


def _ts(t: datetime) -> str:
    return t.isoformat(sep=" ")


def _with_dups(rng: random.Random, rows: list[list]) -> list[list]:
    """~1% exact duplicate rows (silver's dedup_full_row removes them)."""
    return rows + rng.sample(rows, max(1, len(rows) // 100))


def _train_rows(block: int, counties: int, seed: int) -> list[list]:
    rng = _rng(seed, "train", block)
    rows = []
    for ts in _hours(block - 2):
        for county in range(counties):
            for biz in (0, 1):
                for prod in PRODUCTS:
                    for cons in (0, 1):
                        target = None if rng.random() < 0.01 else round(rng.uniform(0, 500), 2)
                        row_id = ((block * 24 + ts.hour) * counties + county) * 16 + biz * 8 + prod * 2 + cons
                        unit = county * 8 + biz * 4 + prod
                        rows.append([row_id, county, biz, prod, target, cons, _ts(ts), block, unit])
    return _with_dups(rng, rows)


def _client_rows(block: int, counties: int, seed: int) -> list[list]:
    if block < 2:
        return []
    rng = _rng(seed, "client", block)
    date = (T0 + timedelta(days=block - 2)).date().isoformat()
    rows = []
    for county in range(counties):
        for biz in (0, 1):
            for prod in PRODUCTS:
                if (county, biz, prod) == MISSING_CLIENT:
                    continue
                eic = None if rng.random() < 0.01 else rng.randint(5, 500)
                rows.append([prod, county, eic, round(rng.uniform(10, 2000), 1), biz, date, block])
    return _with_dups(rng, rows)


def _electricity_rows(block: int, seed: int) -> list[list]:
    rng = _rng(seed, "electricity_prices", block)
    rows = [
        [_ts(ts), round(rng.uniform(20, 300), 2), _ts(ts - timedelta(days=1)), block]
        for ts in _hours(block - 1)
    ]
    return _with_dups(rng, rows)


def _gas_rows(block: int, seed: int) -> list[list]:
    rng = _rng(seed, "gas_prices", block)
    day = (T0 + timedelta(days=block - 1)).date()
    lo = round(rng.uniform(20, 60), 2)
    return [[day.isoformat(), lo, round(lo + rng.uniform(1, 30), 2), (day - timedelta(days=1)).isoformat(), block]]


def _hist_rows(block: int, counties: int, seed: int) -> list[list]:
    rng = _rng(seed, "historical_weather", block)
    hours = [t for t in _hours(block - 1) if t.hour < 11] + [t for t in _hours(block - 2) if t.hour >= 11]
    rows = []
    for ts in hours:
        for lat, lon, _, _ in stations(counties):
            reports = 2 if rng.random() < 0.05 else 1  # duplicate grain → silver averages
            for _ in range(reports):
                temp = None if rng.random() < 0.01 else round(rng.uniform(-20, 30), 1)
                rows.append(
                    [
                        _ts(ts),
                        lat,
                        lon,
                        temp,
                        round(rng.uniform(-25, 20), 1),
                        round(rng.uniform(0, 5), 2),
                        round(rng.uniform(0, 3), 2),
                        round(rng.uniform(980, 1040), 1),
                        round(rng.uniform(0, 100), 1),
                        round(rng.uniform(0, 25), 1),
                        block,
                    ]
                )
    return _with_dups(rng, rows)


def _fcst_rows(block: int, counties: int, seed: int) -> list[list]:
    rng = _rng(seed, "forecast_weather", block)
    origin = T0 + timedelta(days=block)
    rows = []
    for lat, lon, _, _ in stations(counties):
        for ha in range(0, 73, 6):
            rows.append(
                [
                    lat,
                    lon,
                    _ts(origin),
                    ha,
                    _ts(origin + timedelta(hours=ha)),
                    round(rng.uniform(-20, 30), 1),
                    round(rng.uniform(-25, 20), 1),
                    round(rng.uniform(0, 3), 2),
                    round(rng.uniform(0, 100), 1),
                    block,
                ]
            )
    return _with_dups(rng, rows)


def _write_csv(path: Path, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def write_drop(landing_dir: str, blocks: list[int], counties: int, seed: int) -> None:
    """Write one landing drop holding exactly ``blocks`` of every fact
    feed, plus the station map and the county-name map."""
    out = Path(landing_dir)
    out.mkdir(parents=True, exist_ok=True)

    def feed(fn, *args):
        return [r for b in blocks for r in fn(b, *args)]

    _write_csv(out / "train.csv", TRAIN_COLS, feed(_train_rows, counties, seed))
    _write_csv(
        out / "client.csv",
        ["product_type", "county", "eic_count", "installed_capacity", "is_business", "date", "data_block_id"],
        feed(_client_rows, counties, seed),
    )
    _write_csv(
        out / "electricity_prices.csv",
        ["forecast_date", "euros_per_mwh", "origin_date", "data_block_id"],
        feed(_electricity_rows, seed),
    )
    _write_csv(
        out / "gas_prices.csv",
        ["forecast_date", "lowest_price_per_mwh", "highest_price_per_mwh", "origin_date", "data_block_id"],
        feed(_gas_rows, seed),
    )
    _write_csv(out / "historical_weather.csv", HIST_COLS, feed(_hist_rows, counties, seed))
    _write_csv(out / "forecast_weather.csv", FCST_COLS, feed(_fcst_rows, counties, seed))
    # mixed-precision latitudes for the unlabeled stations (silver rounds)
    _write_csv(
        out / "weather_station_to_county_mapping.csv",
        ["county_name", "longitude", "latitude", "county"],
        [[name, lon, lat + 0.04 if cid is None else lat, cid] for lat, lon, cid, name in stations(counties)],
    )
    with open(out / "county_id_to_name_map.json", "w") as f:
        json.dump({str(c): f"county_{c}" for c in range(counties)}, f)


def expected_gold_keys(blocks: list[int], counties: int, seed: int) -> set[tuple]:
    """Gold grain keys the pipeline must produce for ``blocks``: train
    rows with a non-NULL target, county != 12 and block >= 2, as
    (datetime, county, product_type, is_business, is_consumption)."""
    keys = set()
    for b in blocks:
        if b < 2:
            continue
        for row in _train_rows(b, counties, seed):
            _, county, biz, prod, target, cons, ts, _, _ = row
            if target is None or county == FILTERED_COUNTY:
                continue
            keys.add((datetime.fromisoformat(ts), county, prod, biz, cons))
    return keys
