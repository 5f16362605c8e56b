"""Seeded landing-CSV generator for the medallion pipeline.

Writes one CSV per (year, gender) in the scraper's 30-column layout
(FIXTURES.md section 1) and a facts manifest the benchmark checks the
pipeline's tables against. The same seed always gives the same files.

Shape, following FIXTURES.md sections 1-2 and BASELINE.md:
  * all 30 columns are text; `-` and the empty string are null sentinels;
  * per-file row ratios of the 2023-2025 reference files, cycled over years;
  * designation mix Finisher / DNF / DNS / DQ / blank as 11347/614/522/5/38;
  * ~31% blank country; 91 mapped ISO codes plus 15 the mapping lacks;
  * PRO and age-group divisions plus HC, PC/ID and MGuide/FGuide;
  * `0:00:00` segment times, DNF partial splits, `-` in run columns,
    finish/segment-sum discrepancies, single-token and non-ASCII names,
    and duplicate names within one file.

run.py calls generate(out_dir, seed, rows, years) with its own sizes.
"""
import csv
import json
import os
import random
import re

COLUMNS = [
    "rank", "athlete_name", "country", "div_rank", "gender_rank", "overall_rank",
    "designation", "bib", "division", "points", "swim_time", "swim_time_detail",
    "swim_div_rank", "swim_gender_rank", "swim_overall_rank", "transition_1",
    "transition_1_detail", "bike_time", "bike_time_detail", "bike_div_rank",
    "bike_gender_rank", "bike_overall_rank", "transition_2", "transition_2_detail",
    "run_time", "run_time_detail", "run_div_rank", "run_gender_rank",
    "run_overall_rank", "finish_time"]

# (men, women) rows of the 2023, 2024 and 2025 reference files
FILE_RATIOS = [(2269, 2174), (2491, 1384), (2535, 1673)]
REFERENCE_ROWS = sum(m + w for m, w in FILE_RATIOS)

DESIGNATIONS = [("Finisher", 11347), ("DNF", 614), ("DNS", 522), ("DQ", 5), ("", 38)]
BLANK_COUNTRY_SHARE = 3841 / 12526

MAPPED = ("AD AE AR AT AU BE BG BR CA CH CL CN CO CZ DE DK EC EE ES FI FR GB GR HK "
          "HR HU ID IE IL IN IS IT JP KR LT LU LV MX MY NL NO NZ PE PH PL PT RO RS "
          "RU SA SE SG SI SK TH TR TW UA US UY VE ZA AM AW AZ BA BM CR CY DO EG GG "
          "HN JE KG KZ ME MK MO MT NA NG NP PA PR PY RE UZ VI VN").split()
UNMAPPED = "BH BO CU FJ GH GT JM KE LB MA MN QA TN TT ZW".split()
# a few large nations dominate real start lists
COUNTRY_WEIGHTS = {"US": 30, "DE": 8, "GB": 7, "AU": 6, "CA": 5, "FR": 4, "JP": 3}

AGE_GROUPS = ["18-24", "25-29", "30-34", "35-39", "40-44", "45-49", "50-54",
              "55-59", "60-64", "65-69", "70-74", "75-79", "80-84"]
AGE_WEIGHTS = [3, 6, 9, 11, 13, 13, 11, 8, 6, 4, 2, 1, 1]

FIRST = {
    "M": ["James", "Lukas", "Jan", "Sam", "Kristian", "Patrick", "Magnus", "Daniel",
          "Bradley", "Lionel", "Sebastian", "Gustav", "Leon", "Rudy", "Cameron",
          "Thomas", "Matt", "Ben", "Sven", "Kenji", "Diego", "Mathis", "Rob", "Joe",
          "Andreas", "Frederik", "Pablo", "Marc", "Tim", "Josh", "Max", "Chris"],
    "F": ["Lucy", "Anne", "Daniela", "Laura", "Kat", "Taylor", "Sarah", "Chelsea",
          "Hannah", "Solveig", "Fenella", "Skye", "Lisa", "Anna", "Emma", "Julia",
          "Mia", "Ruth", "Imogen", "Lotte", "Nina", "Maja", "Eva", "Carla", "Jess",
          "Kate", "Amy", "Sophie", "Paula", "Rachel", "Marta", "Leah"],
}
LAST = ["Smith", "Müller", "Charles-Barclay", "Løvseth", "Haug", "Ryf", "Matthews",
        "Knibb", "Philipp", "Blummenfelt", "Iden", "Lange", "Frodeno", "Kienle",
        "O'Brien", "Van der Berg", "Sanders", "Wilde", "Laidlow", "Ditlev", "Dreitz",
        "García", "Pérez", "Nakamura", "Johansson", "Novak", "Kowalski", "Rossi",
        "Dubois", "Jensen", "Brown", "Taylor", "Wilson", "Costa", "Silva", "Hansen",
        "Schmidt", "Weber", "Meyer", "Wagner", "Becker", "Hoffmann", "Lee", "Kim",
        "Chen", "Wang", "Murphy", "Kelly", "Walsh", "Byrne", "Ryan", "Moore",
        "Clarke", "Hall", "Young", "King", "Wright", "Scott", "Green", "Baker"]
SINGLE_TOKEN = ["Madonna", "Pelé", "Ronaldinho", "Nene"]


def hms(seconds):
    return "%d:%02d:%02d" % (seconds // 3600, seconds % 3600 // 60, seconds % 60)


def split_counts(total, weighted):
    """Largest-remainder split of `total` by the weights of `weighted`."""
    w = sum(n for _, n in weighted)
    raw = [(v, total * n / w) for v, n in weighted]
    counts = {v: int(x) for v, x in raw}
    for v, x in sorted(raw, key=lambda p: p[1] - int(p[1]), reverse=True):
        if sum(counts.values()) >= total:
            break
        counts[v] += 1
    return counts


def natural_key(name, country):
    """D3: lower(alnum(name) _ coalesce(country, 'UNKNOWN'))."""
    return (re.sub("[^a-zA-Z0-9]", "", name.strip()) + "_" + (country or "UNKNOWN")).lower()


def make_file(rng, year, gender, n, countries, weights, bib0):
    designations = []
    for d, k in split_counts(n, DESIGNATIONS).items():
        designations += [d] * k
    rng.shuffle(designations)
    divisions = [gender + "PRO"] + [gender + a for a in AGE_GROUPS]
    div_weights = [1] + AGE_WEIGHTS
    rows = []
    for i, designation in enumerate(designations):
        if rng.random() < 0.002:
            name = rng.choice(SINGLE_TOKEN)
        else:
            name = rng.choice(FIRST[gender]) + " " + rng.choice(LAST)
        if i > 0 and rng.random() < 0.01:     # an exact duplicate name in this file
            name = rows[rng.randrange(len(rows))]["athlete_name"]
        country = "" if rng.random() < BLANK_COUNTRY_SHARE else rng.choices(countries, weights)[0]
        r = rng.random()
        division = ("HC" if r < 0.004 else "PC/ID" if r < 0.007 else
                    gender + "Guide" if r < 0.009 else rng.choices(divisions, div_weights)[0])
        swim = rng.randint(2900, 6000)
        t1 = rng.randint(120, 420)
        bike = rng.randint(15000, 27000)
        t2 = rng.randint(60, 400)
        run = rng.randint(9600, 23400)
        segments = [swim, t1, bike, t2, run]
        finish = sum(segments)
        if designation == "Finisher":
            if rng.random() < 0.01:            # D8: finish disagrees with the segment sum
                finish += rng.randint(61, 900)
            if rng.random() < 0.01:            # D1: a 0:00:00 segment parses to NULL
                segments[rng.randrange(5)] = 0
        elif designation in ("DNF", "DQ"):
            keep = rng.choice([2, 4])          # swim+T1, or swim+T1+bike+T2
            segments = segments[:keep] + [None] * (5 - keep)
            finish = None
        else:                                  # DNS and blank
            segments, finish = [None] * 5, None
        rows.append({
            "athlete_name": name, "country": country, "designation": designation,
            "bib": str(bib0 + i), "division": division, "segments": segments,
            "finish": finish})

    finishers = sorted((r for r in rows if r["designation"] == "Finisher"),
                       key=lambda r: r["finish"])
    by_div = {}
    for place, r in enumerate(finishers, 1):
        by_div[r["division"]] = by_div.get(r["division"], 0) + 1
        r["ranks"] = (place, by_div[r["division"]])
        r["points"] = max(5000 - 2 * place, 1)
    out = []
    for r in rows:
        v = dict.fromkeys(COLUMNS, "")
        v.update(athlete_name=r["athlete_name"], country=r["country"],
                 designation=r["designation"], bib=r["bib"], division=r["division"])
        for (col, detail), s in zip(
                [("swim_time", "swim_time_detail"), ("transition_1", "transition_1_detail"),
                 ("bike_time", "bike_time_detail"), ("transition_2", "transition_2_detail"),
                 ("run_time", "run_time_detail")], r["segments"]):
            if s is not None:
                v[col] = v[detail] = hms(s)
        if r["finish"] is not None:
            v["finish_time"] = hms(r["finish"])
        if "ranks" in r:
            overall, div = r["ranks"]
            v.update(rank=str(overall), overall_rank=str(overall), gender_rank=str(overall),
                     div_rank=str(div), points=str(r["points"]))
            for seg in ("swim", "bike", "run"):
                v.update({seg + "_div_rank": str(div), seg + "_gender_rank": str(overall),
                          seg + "_overall_rank": str(overall)})
        elif r["designation"] == "DNF" and rng.random() < 0.5:
            v["run_time"] = v["run_time_detail"] = "-"
        out.append(v)
    return out


def generate(out_dir, seed, rows, years):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    countries = MAPPED + UNMAPPED
    weights = [COUNTRY_WEIGHTS.get(c, 1) for c in countries]
    scale = rows / (REFERENCE_ROWS * years / len(FILE_RATIOS))
    first_year = 2026 - years
    files, all_rows = [], []
    bib0 = 1
    for k in range(years):
        year = first_year + k
        for gender, ratio in zip("MF", FILE_RATIOS[k % len(FILE_RATIOS)]):
            n = max(int(round(ratio * scale)), 20)
            data = make_file(rng, year, gender, n, countries, weights, bib0)
            bib0 += n
            path = os.path.join(out_dir, "%d_%s.csv" % (year, "men" if gender == "M" else "women"))
            with open(path, "w", newline="", encoding="utf-8") as f:
                w = csv.DictWriter(f, fieldnames=COLUMNS)
                w.writeheader()
                w.writerows(data)
            files.append({"path": os.path.abspath(path), "year": year, "gender": gender,
                          "rows": n, "bytes": os.path.getsize(path)})
            all_rows += [(year, gender, r) for r in data]

    def facts(sel):
        picked = [(y, g, r) for y, g, r in all_rows if sel(y)]
        designations = {}
        by_year_gender = {}
        for y, g, r in picked:
            designations[r["designation"].upper()] = designations.get(r["designation"].upper(), 0) + 1
            by_year_gender["%d_%s" % (y, g)] = by_year_gender.get("%d_%s" % (y, g), 0) + 1
        return {
            "rows": len(picked),
            "rows_by_year_gender": by_year_gender,
            "designations": designations,
            "distinct_countries": len({r["country"] for _, _, r in picked if r["country"]}),
            "distinct_divisions": len({r["division"].upper() for _, _, r in picked}),
            "distinct_athletes": len({natural_key(r["athlete_name"], r["country"])
                                      for _, _, r in picked}),
            "blank_country_rows": sum(1 for _, _, r in picked if not r["country"]),
        }

    last_year = first_year + years - 1
    manifest = {
        "seed": seed, "years": [first_year, last_year], "files": files,
        "landing_bytes": sum(f["bytes"] for f in files),
        "all": facts(lambda y: True),
        "last_year": facts(lambda y: y == last_year),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest

