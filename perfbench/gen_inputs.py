#!/usr/bin/env python3
"""Seeded inputs of the spray_cycle workload.

Usage: python3 perfbench/gen_inputs.py --seed N --out DIR

Writes three files; the same seed gives byte-identical files:
  optout.csv         the opt-out sheet (Timestamp, Street Address, Zipcode)
  candidates.parquet candidate spray points (cand_id, cx_ft, cy_ft)
  addresses.parquet  address points: the seven report columns, x/y degrees

Sizes do not depend on the seed. Points are uniform over the mock
geocoder's box (lon -105.5..-105.0, lat 39.9..40.2, i.e. 140,000 x
109,200 ft). With OPT_OUTS sheet rows (~95% geocode) the 1500-ft buffers
cover about a third of the box, so erase keeps about two thirds.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OPT_OUTS = 1000
CANDIDATES = 200_000
ADDRESSES = 50_000
BOX_FT = (140_000.0, 109_200.0)

STREETS = ["Walnut", "Pearl", "Iliff", "Canyon", "Spruce", "Pine", "Mapleton",
           "Arapahoe", "Baseline", "Table Mesa", "Folsom", "Broadway",
           "Valmont", "Jay", "Iris", "Alpine", "Balsam", "Juniper", "Linden",
           "Hawthorn", "Kalmia", "Norwood", "Sumac", "Glenwood"]
SUFFIXES = ["St", "Ave", "Blvd", "Dr", "Rd", "Ct", "Way", "Pl"]
DIRS = ["N", "S", "E", "W"]
ZIPS = ["80301", "80302", "80303", "80304", "80305"]


def generate(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    # opt-out sheet: street strings without commas or quotes, so any CSV
    # reader splits them the same way
    nums = rng.integers(1, 10_000, OPT_OUTS)
    st = rng.integers(0, len(STREETS), OPT_OUTS)
    sf = rng.integers(0, len(SUFFIXES), OPT_OUTS)
    zp = rng.integers(0, len(ZIPS), OPT_OUTS)
    mins = rng.integers(0, 60 * 24 * 30, OPT_OUTS)
    with open(os.path.join(out, "optout.csv"), "w") as f:
        f.write("Timestamp,Street Address,Zipcode\n")
        for i in range(OPT_OUTS):
            d, m = divmod(int(mins[i]), 60 * 24)
            ts = f"4/{d + 1}/2025 {m // 60:02d}:{m % 60:02d}:00"
            addr = f"{nums[i]} {STREETS[st[i]]} {SUFFIXES[sf[i]]}"
            f.write(f"{ts},{addr},{ZIPS[zp[i]]}\n")

    pq.write_table(pa.table({
        "cand_id": pa.array(np.arange(CANDIDATES, dtype=np.int64)),
        "cx_ft": pa.array(rng.uniform(0.0, BOX_FT[0], CANDIDATES)),
        "cy_ft": pa.array(rng.uniform(0.0, BOX_FT[1], CANDIDATES)),
    }), os.path.join(out, "candidates.parquet"))

    # address points: FULLADDR is unique (it carries the address number
    # and unit), every field is non-empty and comma-free
    n = ADDRESSES
    ids = np.arange(n, dtype=np.int64)
    num = [str(x) for x in rng.integers(1, 10_000, n)]
    unit = [f"U{x}" for x in rng.integers(1, 500, n)]
    pre = [DIRS[x] for x in rng.integers(0, 4, n)]
    street = [STREETS[x] for x in rng.integers(0, len(STREETS), n)]
    suff = [SUFFIXES[x] for x in rng.integers(0, len(SUFFIXES), n)]
    post = [DIRS[x] for x in rng.integers(0, 4, n)]
    full = [f"{num[i]} {pre[i]} {street[i]} {suff[i]} {post[i]} {unit[i]} {i}"
            for i in range(n)]
    pq.write_table(pa.table({
        "addr_id": pa.array(ids),
        "FULLADDR": full, "ADDRNUM": num, "UNITID": unit, "PREDIR": pre,
        "STREETNAME": street, "STREETSUFF": suff, "POSTDIR": post,
        "x": pa.array(-105.5 + rng.uniform(0.0, 0.5, n)),
        "y": pa.array(39.9 + rng.uniform(0.0, 0.3, n)),
    }), os.path.join(out, "addresses.parquet"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
