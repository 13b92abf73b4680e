"""Seeded input generator for the ``survey_dag`` workload.

Everything is drawn from one ``numpy`` generator per call, so the same
seed writes byte-identical parquet files.  The program under test only
ever sees the files written here.

``write_survey`` writes a raw wide survey table with the columns of
``tools/pipeline_demo.synth_raw`` plus tracker IMEIs on a share of
submissions, and the matching ``pds_trips`` table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _pick(rng, n: int, *choices: str) -> np.ndarray:
    return np.array(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _num_str(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return rng.integers(lo, hi, n).astype(str).astype(object)


def write_survey(
    out_dir: str, n: int, seed: int, imei_share: float = 0.4, n_devices: int = 200
) -> dict[str, int]:
    """Write ``raw.parquet`` (``n`` wide submissions, all-string
    columns) and ``pds_trips.parquet`` into ``out_dir``.

    A ``imei_share`` of the submissions carry one of ``n_devices``
    tracker IMEIs.  Each such submission gets one tracker trip ending on
    its landing day, and a tenth of them a second trip on the same day,
    so the merge stage sees both mergeable (exactly one trip and one
    landing per device-day) and pass-through key-days.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    none = np.full(n, None, dtype=object)
    day = rng.integers(0, 364, n)
    landing = (np.datetime64("2024-01-01") + day.astype("timedelta64[D]")).astype(str)
    has_imei = rng.random(n) < imei_share
    device = rng.integers(0, n_devices, n)
    imei = np.where(has_imei, np.char.add("imei-", device.astype(str)), None).astype(object)
    lat = rng.integers(-12, -10, n).astype(str)
    cols = {
        "submission_id": np.char.add("sub_", np.arange(n).astype(str)).astype(object),
        "group_general/landing_date": np.char.add(landing, " 06:00:00").astype(object),
        "group_general/today": np.char.add(landing, " 18:00:00").astype(object),
        "group_general/enumerator": _pick(
            rng, n, "Joao da Silva", "Maria Santos", "Ana Pereira", "Carlos Gomes"),
        "group_general/district": none,
        "group_general/district_palma": _pick(rng, n, "palma", "mocimboa_da_praia", "quissanga"),
        "group_general/district_mocimboa": none,
        "group_general/survey_activity": np.full(n, "1", dtype=object),
        "group_general/catch_outcome": _pick(rng, n, "1", "1", "1", "0"),
        "group_general/location_coordinates": np.char.add(lat, ".5 40.2 10 4").astype(object),
        "group_trip/trip_duration": _num_str(rng, n, 1, 14),
        "group_trip/no_men_fishers": _num_str(rng, n, 0, 5),
        "group_trip/no_women_fishers": _num_str(rng, n, 0, 3),
        "group_trip/no_child_fishers": none,
        "group_trip/gear_type": _pick(rng, n, "handline", "gillnet", "longline", "trap", "seine"),
        "group_trip/habitat": _num_str(rng, n, 1, 8),
        "group_trip/hook_size": none,
        "group_trip/hook_size_other": none,
        "group_trip/boat_reg_no": none,
        "group_trip/pds_imei": imei,
        "group_species/1/selected_species": _pick(rng, n, "SNA", "GRP", "OCZ", "TUN", "MAC"),
        "group_species/1/collection_type": np.full(n, "1", dtype=object),
        "group_species/1/n_buckets": none,
        "group_species/1/weight_bucket": none,
        "group_species/1/catch_estimate": none,
        "group_species/1/no_individuals_5_10": _num_str(rng, n, 0, 20),
        "group_species/1/no_individuals_10_15": _num_str(rng, n, 0, 10),
        "group_species/2/selected_species": _pick(rng, n, "SNA", "GRP", "RAY"),
        "group_species/2/collection_type": np.full(n, "1", dtype=object),
        "group_species/2/n_buckets": none,
        "group_species/2/weight_bucket": none,
        "group_species/2/catch_estimate": none,
        "group_species/2/no_individuals_5_10": _num_str(rng, n, 0, 12),
        "group_species/2/no_individuals_10_15": none,
        "group_market/catch_price": _num_str(rng, n, 100, 3000),
        "group_market/total_catch_value": none,
        "group_market/catch_use": _pick(rng, n, "sale", "consumption"),
    }
    raw = pa.table({k: pa.array(v, pa.string()) for k, v in cols.items()})
    pq.write_table(raw, os.path.join(out_dir, "raw.parquet"))

    idx = np.flatnonzero(has_imei)
    second = idx[rng.random(len(idx)) < 0.1]
    trip_sub = np.concatenate([idx, second])
    start_h = rng.integers(3, 7, len(trip_sub))
    dur_h = rng.integers(2, 8, len(trip_sub))
    day0 = np.datetime64("2024-01-01", "us") + day[trip_sub].astype("timedelta64[D]")
    trips = pa.table({
        "trip": pa.array([f"trip_{i}" for i in range(len(trip_sub))]),
        "imei": pa.array(np.char.add("imei-", device[trip_sub].astype(str))),
        "started": pa.array(day0 + (start_h * 3600_000_000).astype("timedelta64[us]")),
        "ended": pa.array(day0 + ((start_h + dur_h) * 3600_000_000).astype("timedelta64[us]")),
    })
    pq.write_table(trips, os.path.join(out_dir, "pds_trips.parquet"))
    return {"raw": raw.num_rows, "pds_trips": trips.num_rows}
