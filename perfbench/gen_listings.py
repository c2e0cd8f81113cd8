#!/usr/bin/env python3
"""Seeded generator for the ETL workloads' messy boat-listing CSV.

Each listing is first built clean -- a known country, price and
currency -- and then dirtied the way the reference data is dirty:
`Â»` location separators and `Â£` price mojibake, accented names
turned to mojibake, country spellings that the pipeline's dictionary
maps (`Italien`, `Lake Constance`, upper/lower case), countries it
passes through lower-cased, missing fields, years of 0 or past the
pinned current year, blank lines, quoted fields with commas and,
optionally, quoted locations that span two physical lines.

Because the clean listing is known, the generator writes the expected
output next to the CSV (`expected.json`): the number of listings and
the per-country listing count and average EUR price that
`BoatPipeline.summary` must produce.

Usage: python3 perfbench/gen_listings.py <outDir> <seed> <rows>
           [--multiline FRAC] [--parts N]
With --parts N the listings are split over N CSV files (each with the
header) in <outDir>/listings/; otherwise they go to
<outDir>/listings.csv.
"""
import argparse
import json
import math
import os
import random

HEADER = ("Price,Boat Type,Manufacturer,Type,Year Built,Length,Width,"
          "Material,Location,Number of views last 7 days")

RATES = {"EUR": 1.0, "CHF": 1.06, "DKK": 0.13, "GBP": 1.17}  # USD has none
CURRENCIES = [("EUR", 55), ("CHF", 25), ("DKK", 8), ("GBP", 7), ("USD", 5)]

# (raw country text, country the pipeline must report). The first
# group is spelled as the dictionary expects; the second group are
# dictionary variants (localized names, regions, cities); the third is
# absent from the dictionary, so it passes through lower-cased.
COUNTRIES = [
    ("Switzerland", "Switzerland"), ("Germany", "Germany"),
    ("Italy", "Italy"), ("France", "France"), ("Spain", "Spain"),
    ("Netherlands", "Netherlands"), ("Denmark", "Denmark"),
    ("United Kingdom", "United Kingdom"), ("Austria", "Austria"),
    ("Croatia", "Croatia"), ("United States", "United States"),
    ("Greece", "Greece"), ("Portugal", "Portugal"), ("Sweden", "Sweden"),
    ("Norway", "Norway"), ("Poland", "Poland"), ("Finland", "Finland"),
    ("Slovenia", "Slovenia"), ("Malta", "Malta"), ("Monaco", "Monaco"),
    ("Italien", "Italy"), ("Italie", "Italy"), ("Dalmatien", "Croatia"),
    ("Lake Constance", "Germany"), ("Bodensee", "Germany"),
    ("Mallorca", "Spain"), ("Ibiza", "Spain"),
    ("Lake Geneva", "Switzerland"), ("Thun", "Switzerland"),
    ("Jersey", "United Kingdom"), ("Gibraltar", "United Kingdom"),
    ("Split", "Croatia"), ("Toscana", "Italy"), ("Martinique", "France"),
    ("Katwijk", "Netherlands"),
    ("Croatia (Hrvatska)", "croatia (hrvatska)"), ("Belgium", "belgium"),
    ("Russian Federation", "russian federation"), ("Canada", "canada"),
]
CITIES = ["Bremen", "Southampton", "VÃ©senaz", "BÃ¶nningstedt", "Miami",
          "Adria", "Annecy", "Stockholm", "Lake Zurich", "Port Grimaud",
          "Marina di Ragusa", "Zadar", "Lisboa", "ZÃ¼rich", "Kiel"]
BOAT_TYPES = ["Motor Yacht", "Sport Boat", "Cabin Boat", "Fishing Boat",
              "Sailboat", "Houseboat", "Rowboat", "Catamaran", "Pontoon Boat"]
MAKERS = ["Rinker", "Terhi", "Sealine", "Uttern", "Sea Ray", "Bavaria",
          "Quicksilver", "Azimut", "Fairline", "Bayliner", "Jeanneau",
          "Hanse", "Cranchi", "Sunseeker", "BÃ©nÃ©teau", "Linssen"]
KINDS = ["new boat from stock", "Used boat", "Used boat,Unleaded",
         "Used boat,Diesel", "new boat on order", "Display Model,Electric"]
MATERIALS = ["Aluminium", "Carbon Fiber", "GRP", "Hypalon", "PVC",
             "Plastic", "Reinforced concrete", "Rubber", "Steel",
             "Thermoplastic", "Wood"]


def quote(s: str) -> str:
    return f'"{s}"' if ("," in s or "\n" in s) else s


def listing(rng: random.Random, multiline: float):
    """One dirtied CSV record and the (country, price_eur) it must yield."""
    cur = rng.choices([c for c, _ in CURRENCIES], [w for _, w in CURRENCIES])[0]
    price = int(math.exp(rng.uniform(math.log(800), math.log(900000))))
    raw_country, country = rng.choice(COUNTRIES)
    if country == raw_country and rng.random() < 0.1:
        raw_country = rng.choice([raw_country.upper(), raw_country.lower()])

    price_txt = (rng.choice(["Â£", "£"]) if cur == "GBP" else cur) + f" {price}"
    maker = "" if rng.random() < 0.05 else rng.choice(MAKERS)
    kind = "" if rng.random() < 0.02 else rng.choice(KINDS)
    r = rng.random()
    year = ("" if r < 0.02 else "0" if r < 0.05
            else str(rng.choice([2031, 2150])) if r < 0.07
            else str(rng.randint(1950, 2024)))
    length = "" if rng.random() < 0.03 else f"{rng.uniform(2.5, 40):.2f}"
    width = "" if rng.random() < 0.03 else f"{rng.uniform(1, 8):.2f}"
    material = "" if rng.random() < 0.03 else rng.choice(MATERIALS)
    views = rng.randint(0, 3000)

    if rng.random() < 0.02:
        location, country = "", "None"
    else:
        location = raw_country
        if rng.random() < 0.8:
            location += " Â» " + rng.choice(CITIES)
            if rng.random() < 0.3:
                location += " Â» " + rng.choice(CITIES)
        if "Â»" in location and rng.random() < 0.02:
            location += ", " + rng.choice(CITIES)
        if rng.random() < multiline:
            location += " Â» Hafen\n" + rng.choice(CITIES)

    fields = [price_txt, rng.choice(BOAT_TYPES), maker, kind, year, length,
              width, material, location, str(views)]
    line = ",".join(quote(f) for f in fields)
    eur = price * RATES[cur] if cur in RATES else None
    return line, country, eur


def generate(out: str, seed: int, rows: int, multiline: float = 0.0,
             parts: int = 0) -> dict:
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    files = max(parts, 1)
    groups = {}
    chunks = [[HEADER] for _ in range(files)]
    for i in range(rows):
        line, country, eur = listing(rng, multiline)
        chunk = chunks[i * files // rows]
        chunk.append(line)
        if rng.random() < 0.005:
            chunk.append(rng.choice(["", "   "]))
        g = groups.setdefault(country, [0, []])
        g[0] += 1
        if eur is not None:
            g[1].append(eur)

    if parts:
        path = os.path.join(out, "listings")
        os.makedirs(path, exist_ok=True)
        names = [os.path.join(path, f"part-{k:05d}.csv") for k in range(files)]
    else:
        path = os.path.join(out, "listings.csv")
        names = [path]
    size = 0
    for name, chunk in zip(names, chunks):
        data = ("\n".join(chunk) + "\n").encode("utf-8")
        with open(name, "wb") as f:
            f.write(data)
        size += len(data)

    expected = {
        "input": os.path.basename(path),
        "listings": rows,
        "bytes": size,
        "summary": {c: [n, math.fsum(e) / len(e) if e else None]
                    for c, (n, e) in sorted(groups.items())},
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("seed", type=int)
    ap.add_argument("rows", type=int)
    ap.add_argument("--multiline", type=float, default=0.0)
    ap.add_argument("--parts", type=int, default=0)
    a = ap.parse_args()
    e = generate(a.out, a.seed, a.rows, a.multiline, a.parts)
    print(json.dumps({k: e[k] for k in ("input", "listings", "bytes")}))
