"""Seeded synthetic inputs for the benchmark.

`write_tables` lands the ten fixture tables the catalog reads
(`session.TABLES`), with the schemas and value domains of the project's
synthetic TPC-H-ish star schema plus its events, documents and
embeddings tables. `daily_inputs` builds the station payloads and the
document / embedding deltas of the simulated daily collection job.
Everything derives from one `numpy.random.Generator`, so a seed always
yields the same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (["en"] * 44) + (["zh"] * 15) + (["es"] * 15) + (["de"] * 14) + (["fr"] * 12)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "nut"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIM = 64


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(
        np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
        pa.timestamp("us"),
    )


def _days(rng, n, base, span):
    return _ts(base, rng.integers(0, span, n) * 86_400_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int, first_id: int = 0, dup_every: int | None = None) -> pd.DataFrame:
    """Word-salad documents; about 5% are an earlier document plus ' dup'
    (the near-duplicates the dedup entries look for). With `dup_every`,
    exactly every `dup_every`-th document is one, so every stretch of the
    corpus holds the same share of near-duplicates."""
    texts: list[str] = []
    for i in range(n):
        dup = i % dup_every == 0 if dup_every else rng.random() < 0.05
        if i > 10 and dup:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(WORDS, k)))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng, n: int, first_id: int = 0) -> pa.Table:
    """Unit float32 vectors around ten label centres."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = np.random.default_rng(7).normal(size=(10, EMB_DIM))
    v = centres[labels] * 0.15 + rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write the ten catalog tables at scale factor `sf`; returns bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PTYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_li),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _days(rng, n_li, "1995-01-02", 2500),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": _ts(
                    "2024-01-01",
                    np.cumsum(rng.exponential(30 * 86_400e6 / n_ev, n_ev)).astype(np.int64),
                ),
                "user_id": rng.integers(0, max(int(15_000 * sf), 50), n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": pa.Table.from_pandas(documents(rng, n_doc), preserve_index=False),
        "embeddings": embeddings(rng, n_emb),
    }
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# ------------------------------------------------------------ daily ingest

BRANDS = {"bp": "BP", "mobil": "Mobil", "z_energy": "Z", "paknsave": "PAK'nSAVE"}
DUP_EVERY = 10
CITIES = ["Christchurch", "Rangiora", "Rolleston", "Kaiapoi", "Lincoln", "Ashburton"]


def _station(rng, sid: str) -> dict:
    return {
        "id": sid,
        "name": f"Station {sid}",
        "lat": round(float(rng.uniform(-43.9, -43.3)), 6),
        "lng": round(float(rng.uniform(172.2, 172.9)), 6),
        "street": f"{int(rng.integers(1, 999))} Main Road",
        "city": str(rng.choice(CITIES)),
        "postcode": str(int(rng.integers(7000, 8999))),
    }


def _payload(source: str, recs: list[dict]) -> str:
    """One landing-zone document in the source's API dialect."""
    brand = BRANDS[source]
    if source == "bp":
        return json.dumps(
            [
                {
                    "id": r["id"], "site_brand": brand, "name": r["name"],
                    "lat": r["lat"], "lng": r["lng"], "address": r["street"],
                    "city": r["city"], "state": "Canterbury",
                    "postcode": r["postcode"], "country_code": "NZ",
                }
                for r in recs
            ]
        )
    if source == "mobil":
        return json.dumps(
            {
                "Locations": [
                    {
                        "LocationID": r["id"], "BrandName": brand,
                        "LocationName": r["name"], "Latitude": r["lat"],
                        "Longitude": r["lng"], "AddressLine1": r["street"],
                        "City": r["city"], "StateProvince": "Canterbury",
                        "PostalCode": r["postcode"], "Country": "NZ",
                    }
                    for r in recs
                ]
            }
        )
    return json.dumps(
        {
            "results": [
                {
                    "place_id": r["id"], "name": f"{brand} {r['name']}",
                    "geometry": {"location": {"lat": r["lat"], "lng": r["lng"]}},
                    "vicinity": f"{r['street']}, {r['city']}",
                }
                for r in recs
            ]
        }
    )


def _split(n: int, days: int, boot_share: float, rng) -> list[int]:
    """Row bounds: [bootstrap end, day 0 end, ..., day N-1 end = n]; each
    day gets an equal share of the rest, give or take 5%."""
    boot = int(n * boot_share)
    sizes = (n - boot) / days * rng.uniform(0.95, 1.05, days)
    bounds = boot + np.cumsum(sizes).astype(int)
    bounds[-1] = n
    return [boot, *bounds.tolist()]


def daily_inputs(seed: int, days: int, stations_per_day: int, docs: int, vecs: int) -> dict:
    """Station payloads per (day, source), document and embedding deltas.

    Each day every source reports some brand-new stations plus stations
    already reported on earlier days or by another source the same day,
    so ids overlap across sources and days. String ids (`st-<n>`) keep
    the reference's VARCHAR key. The seed also picks how much of the
    corpus is the bootstrap and how much arrives as daily deltas.
    """
    rng = np.random.default_rng(seed)
    # bootstrap share and day sizes vary a little with the seed, not so
    # much that one seed's days do markedly more work than another's
    boot_share = float(rng.uniform(0.58, 0.62))
    # a fixed share of near-duplicates per day keeps the dedup stores'
    # work per day from swinging with the seed
    corpus = documents(rng, docs, dup_every=DUP_EVERY)
    vec_tbl = embeddings(rng, vecs)
    doc_bounds = _split(docs, days, boot_share, rng)
    vec_bounds = _split(vecs, days, boot_share, rng)
    known: list[str] = []
    next_id = 1000
    station_days = []
    for _ in range(days):
        per_source = {}
        for source in BRANDS:
            fresh = [f"st-{next_id + j}" for j in range(stations_per_day)]
            next_id += stations_per_day
            seen = (
                list(rng.choice(known, min(len(known), stations_per_day // 2), replace=False))
                if known
                else []
            )
            per_source[source] = fresh + seen
        pool = sorted({s for ids in per_source.values() for s in ids})
        # the same station reported by two sources on one day
        shared = list(rng.choice(pool, max(1, len(pool) // 10), replace=False))
        for source in BRANDS:
            extra = [s for s in shared if s not in per_source[source]]
            ids = per_source[source] + extra[: len(extra) // 2]
            per_source[source] = _payload(source, [_station(rng, s) for s in ids])
        known.extend(pool)
        station_days.append(per_source)
    return {
        "stations": station_days,
        "docs": corpus,
        "vecs": vec_tbl,
        "doc_bounds": doc_bounds,
        "vec_bounds": vec_bounds,
    }
