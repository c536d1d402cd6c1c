#!/usr/bin/env python3
"""Deterministic inputs for the perfbench workloads, made from a seed.

Nothing is downloaded: every table is drawn from numpy's PCG64 stream
seeded with `--seed`, so the same seed writes byte-identical files.

Two input families:

* `movies` -- the Movies-ETL reference inputs (FIXTURES.md section 1):
  a Wikipedia JSON array with ragged keys and str-or-list cells, a kaggle
  `movies_metadata.csv` with dirty types and corrupt `adult` rows, and a
  pinned-schema `ratings.csv`, at a quarter of the reference row counts,
  with the wiki records spanning the reference's 193-key union.
  The pipeline-checkpoint row counts are the
  same for every seed (only which rows play which role, and their values,
  change), and `manifest.json` holds the ground truth the checks compare
  against: surviving rows at each checkpoint, per-level rating-count
  totals, the expected gap-filled money/runtime values of every output
  row and a ratings checksum.
* `tables` -- the TPC-H-shaped parquet fixture set the registry queries
  read (region nation customer supplier part orders lineitem events
  documents embeddings; schemas as in FIXTURES.md section 3), one row
  group per file, at a stated scale factor.

Usage: python3 perfbench/gen_inputs.py {movies|tables} <outDir> --seed N
"""
import argparse
import datetime as dt
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- movies

# A quarter of the reference's 7,311 wiki records and 45,466 kaggle rows
# (the multiLine wiki parse alone costs ~0.45 ms per record on 4 cores,
# twice per iteration). The dropped-row counts are the reference's
# checkpoints (BASELINE.md) divided by four: 7,311 -> 7,076 after the
# movie filter, -> 7,033 after the imdb_id dedup, -> 6,051 joined after
# a one-row mis-merge purge; kaggle 45,454 + 9 adult + 3 corrupt. They are
# fixed, so every checkpoint count is seed-independent.
N_WIKI = 1828
N_KAGGLE = 11367
# wiki rows the movie filter drops (235 / 4); the split by reason is not
# in the reference
N_TV = 30              # carries "No. of episodes"
N_NO_LINK = 19         # no imdb_link
N_NO_DIRECTOR = 10     # neither Director nor Directed by
# wiki rows the imdb_id extraction and dedup drop (43 / 4)
N_BAD_LINK = 1         # imdb_link without a tt\d{7} id
N_WIKI_DUP = 10        # second record for an already-present imdb_id
N_CLEAN_WIKI = (N_WIKI - N_TV - N_NO_LINK - N_NO_DIRECTOR - N_BAD_LINK
                - N_WIKI_DUP)
# kaggle roles
N_MATCHED = 1512       # clean wiki movies that kaggle also lists
N_MISMERGE = 1         # matched pairs the >1996 / <1965 purge removes
N_ADULT = 2            # 9 / 4
N_CORRUPT = 1          # 3 / 4: prose in `adult`, shifted garbage elsewhere
# Not reference counts: kaggle rows repeating a matched imdb_id (so the
# join is many-to-one somewhere) and kaggle rows without an imdb_id.
N_KAGGLE_DUP = 2
N_NULL_IMDB = 5
N_CLEAN_KAGGLE = N_KAGGLE - N_ADULT - N_CORRUPT
N_JOINED = N_MATCHED + N_KAGGLE_DUP - N_MISMERGE   # 6,051 / 4
N_RATINGS = 100_000    # the reference has 26,024,289

LEVELS = ["0.5", "1.0", "1.5", "2.0", "2.5", "3.0", "3.5", "4.0", "4.5",
          "5.0"]
LEVEL_W = np.array([1.1, 3.2, 1.6, 7.2, 4.4, 20.0, 12.0, 26.6, 8.5, 15.4])
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
WORDS = ["Night", "River", "Last", "Iron", "Silent", "Golden", "Dark",
         "Summer", "Lost", "City", "Storm", "Queen", "Road", "Ghost",
         "Secret", "Winter", "Red", "Star", "Broken", "Wild"]
NAMES = ["Alice Smith", "Bob Jones", "Carol White", "Dan Black",
         "Eve Green", "Frank Blue", "Gina Red", "Hank Gray", "Ivy Stone",
         "Jack Hill", "Kim Lake", "Liam Wood", "Mia Fox", "Noah Reed"]
# every key MoviesEtl.AltTitleKeys folds into `alt_titles`, with the
# share of movie records that carry it
ALT_KEYS = [("Also known as", 0.10), ("French", 0.03), ("Japanese", 0.02),
            ("Literally", 0.02), ("Hangul", 0.01), ("Traditional", 0.01),
            ("Arabic", 0.005), ("Cantonese", 0.005), ("Chinese", 0.005),
            ("Hebrew", 0.005), ("Hepburn", 0.005), ("Mandarin", 0.005),
            ("McCune-Reischauer", 0.005), ("Original title", 0.005),
            ("Polish", 0.005), ("Revised Romanization", 0.005),
            ("Romanized", 0.005), ("Russian", 0.005), ("Simplified", 0.005),
            ("Yiddish", 0.005)]
# pass-through and synonym keys (MoviesEtl.SynonymMap variants) with the
# share of movie records that carry them
PASS_KEYS = [("Starring", 0.9), ("Country", 0.7), ("Language", 0.7),
             ("Cinematography", 0.5), ("Distributed by", 0.4),
             ("Distributor", 0.2), ("Edited by", 0.4), ("Music by", 0.4),
             ("Produced by", 0.5), ("Written by", 0.4),
             ("Screenplay by", 0.2), ("Based on", 0.2),
             ("Production company", 0.3), ("Production companies", 0.2)]
# the remaining MoviesEtl.SynonymMap variants; their cells are plain
# strings (the release-date ones hold the movie's own date), so coalescing
# them with their canonical column never mixes types or changes a result
SYNONYM_KEYS = ["Country of origin", "Musiccomposer", "Producer",
                "Producers", "Productioncompanies", "Productioncompany",
                "Productioncompany ", "Screen story by",
                "Theme music composer", "Released", "Original release"]
# the long tail of the reference's 193-key union (FIXTURES.md 1.1): each
# key on ~2% of records, so the <90%-null pruning drops every one of them
RARE_KEYS = [
    "Narrated by", "Animation by", "Color process", "Label", "Recorded",
    "Venue", "Preceded by", "Followed by", "Layouts by", "Suggested by",
    "Created by", "Genre", "Format", "Presented by", "Voices of",
    "Theme music by", "Original network", "Picture format", "Audio format",
    "Executive producer(s)", "Camera setup", "Location(s)", "Published",
    "Publisher", "Developed by", "Adaptation by", "Story by", "Chronology",
    "Awards", "Production design", "Art direction", "Costume design",
    "Makeup", "Visual effects", "Special effects", "Choreography",
    "Casting", "Sound", "Stunts", "Lyrics by", "Songs", "Score", "Studio",
    "Release dates", "Filming locations", "Country of production",
    "Original language(s)", "Languages", "Gross", "Rating",
    "Certification", "Subtitles", "Dubbing", "Voice actors", "Host",
    "Hosted by", "Judges", "Presenter", "Opening theme", "Ending theme",
    "Composer", "Seasons", "Episodes", "Related", "Website", "Author",
    "Illustrator", "Cover artist", "Series", "Subject", "Set in",
    "Media type", "Pages", "ISBN", "OCLC", "Writer", "Lyricist",
    "Production", "Production location(s)", "Production manager",
    "Assistant director", "Second unit director", "Art director",
    "Set decoration", "Editing", "Editor", "Original score", "Soundtrack",
    "Distribution", "Network", "Channel", "Broadcast", "First shown in",
    "Original air date", "Original run", "Home video", "Remake of",
    "Sequel", "Prequel", "Spin-off", "Franchise", "Inspired by",
    "Adapted from", "Characters", "Premiere", "Festival", "Working title",
    "Other names", "Type", "Medium", "Region", "Location", "Founded",
    "Key people", "Nominations", "Parent", "Owner", "Headquarters",
    "Founder", "Industry", "Products", "Platform", "Engine", "Mode",
    "Category", "Version", "Original version", "Area", "Coordinates",
    "Slogan", "Motto", "Honors", "Cast", "Plot", "Premise", "Setting"]
N_WIKI_KEYS = 193
ALT_NAMES = {k for k, _ in ALT_KEYS}


def money(rng, amount_m):
    """One wiki money cell for roughly `amount_m` million dollars, drawn
    from every form the reference parses, with its parsed value."""
    form = rng.integers(0, 11)
    whole = max(1, int(amount_m))
    tenth = f"{amount_m:.1f}"
    if form == 0:
        return f"${tenth} million", float(tenth) * 1e6
    if form == 1:
        return f"${whole} million", float(whole) * 1e6
    if form == 2:                      # the reference's "millon" typo
        return f"${tenth} millon", float(tenth) * 1e6
    if form == 3:
        b = f"{1 + amount_m / 1000:.1f}"
        return f"${b} billion", float(b) * 1e9
    if form == 4:
        v = int(amount_m * 1e6) + int(rng.integers(0, 999))
        return f"${v:,}", float(v)
    if form == 5:                      # period thousands separators
        v = int(amount_m * 1e6) + int(rng.integers(0, 999))
        return "$" + f"{v:,}".replace(",", "."), float(v)
    if form == 6:                      # range: the upper bound wins
        return f"${whole}–${whole + 5} million", float(whole + 5) * 1e6
    if form == 7:                      # citation marker
        return f"${tenth} million[{rng.integers(1, 30)}]", float(tenth) * 1e6
    if form == 8:                      # plain dollars
        v = int(rng.integers(1000, 999999))
        return f"${v}", float(v)
    if form == 9:                      # list cell: the first entry wins
        return [f"${whole} million", f"${whole + 1} million"], float(whole) * 1e6
    return ["unknown", "N/A", "TBA"][rng.integers(0, 3)], None


def runtime(rng, minutes):
    form = rng.integers(0, 5)
    h, m = divmod(minutes, 60)
    if form == 0:
        return f"{minutes} minutes"
    if form == 1:
        return f"{minutes} min"
    if form == 2:
        return f"{h} h {m} m"
    if form == 3:
        return f"{h} hours {m} minutes"
    return [f"{minutes} minutes", f"{minutes + 7} minutes"]


def wiki_date(rng, day, force_long=False):
    """A release-date cell for `day`; the parsed year is always day.year."""
    long_form = f"{MONTHS[day.month - 1]} {day.day}, {day.year}"
    if force_long:
        return long_form
    form = rng.integers(0, 6)
    if form == 0:
        return long_form
    if form == 1:
        return day.isoformat()
    if form == 2:
        return f"{MONTHS[day.month - 1]} {day.year}"
    if form == 3:
        return str(day.year)
    if form == 4:
        return f"{long_form}[{rng.integers(1, 9)}]"
    return [f"{long_form} (United States)", f"{day.year + 1}"]


def pick_names(rng, k):
    idx = rng.choice(len(NAMES), size=k, replace=False)
    return [NAMES[i] for i in idx]


def str_or_list(rng, k_max=3):
    k = int(rng.integers(1, k_max + 1))
    names = pick_names(rng, k)
    return names[0] if k == 1 else names


def random_day(rng, y0, y1):
    base = dt.date(y0, 1, 1).toordinal()
    span = dt.date(y1, 12, 28).toordinal() - base
    return dt.date.fromordinal(base + int(rng.integers(0, span)))


def gen_movies(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_special = N_TV + N_NO_LINK + N_NO_DIRECTOR + N_BAD_LINK
    n_kaggle_only = (N_KAGGLE - N_MATCHED - N_KAGGLE_DUP - N_ADULT
                     - N_CORRUPT - N_NULL_IMDB)
    imdb = rng.choice(9_999_999, size=N_CLEAN_WIKI + n_special
                      + n_kaggle_only + N_ADULT + N_CORRUPT,
                      replace=False) + 1
    clean_ids = imdb[:N_CLEAN_WIKI]
    special_ids = imdb[N_CLEAN_WIKI:N_CLEAN_WIKI + n_special]
    other_ids = imdb[N_CLEAN_WIKI + n_special:]

    # ---- wiki records -------------------------------------------------
    movies = []   # per clean movie: dict of expected parse results
    records = []
    for i, num in enumerate(clean_ids):
        year = int(rng.integers(1970, 2020))
        movies.append({"imdb": int(num), "year": year,
                       "day": random_day(rng, year, year)})
    # matched movies are the first N_MATCHED; the mis-merge ones come
    # from the matched movies that have no wiki duplicate
    dup_of = rng.choice(np.arange(N_MISMERGE, N_CLEAN_WIKI),
                        size=N_WIKI_DUP, replace=False)
    for j in range(N_MISMERGE):
        m = movies[j]
        m["year"] = int(rng.integers(1998, 2016))
        m["day"] = random_day(rng, m["year"], m["year"])
        m["mismerge"] = True

    def extra_cell(k, m, tag):
        """The cell of an alt-title, synonym-variant or long-tail key."""
        if k in ALT_NAMES:
            return f"{WORDS[rng.integers(0, 20)]} {tag}"
        if k in ("Released", "Original release"):
            return wiki_date(rng, m["day"], force_long=True)
        if k in SYNONYM_KEYS:
            return pick_names(rng, 1)[0]
        if k == "Chronology":
            return {"value": str_or_list(rng)}
        return str_or_list(rng)

    def movie_record(m, url, tag):
        rec = {"url": url, "year": m["year"],
               "title": f"{WORDS[rng.integers(0, 20)]} {tag}",
               "imdb_link": f"https://www.imdb.com/title/tt{m['imdb']:07d}/"}
        rec["Director" if rng.random() < 0.5 else "Directed by"] = \
            str_or_list(rng, 2)
        # a missing running time parses to 0 minutes (challenge2.py:196)
        exp = {"box": None, "budget": None, "runtime": 0.0}
        if rng.random() < 0.7:
            rec["Box office"], exp["box"] = money(rng, rng.uniform(0.5, 900))
        if rng.random() < 0.65:
            rec["Budget"], exp["budget"] = money(rng, rng.uniform(0.5, 300))
        if m.get("mismerge") or rng.random() < 0.85:
            rec["Release date"] = wiki_date(rng, m["day"],
                                            force_long=m.get("mismerge", False))
        mins = int(rng.integers(60, 200))
        r = rng.random()
        if r < 0.75:
            rec["Running time"] = runtime(rng, mins)
            exp["runtime"] = float(mins)
        elif r < 0.8:
            rec["Length"] = f"{mins} minutes"
            exp["runtime"] = float(mins)
        for k, p in PASS_KEYS:
            if rng.random() < p:
                rec[k] = str_or_list(rng)
        for k, p in ALT_KEYS + [(k, 0.02) for k in SYNONYM_KEYS + RARE_KEYS]:
            if rng.random() < p:
                rec[k] = extra_cell(k, m, tag)
        return rec, exp

    for i, m in enumerate(movies):
        url = f"https://en.wikipedia.org/wiki/Film_{m['imdb']:07d}"
        rec, exp = movie_record(m, url, f"{i}")
        m["exp"] = exp
        records.append(rec)
    for j in dup_of:                   # a second, later-sorting record
        m = movies[j]
        rec, _ = movie_record(m, f"https://en.wikipedia.org/wiki/"
                                 f"Film_{m['imdb']:07d}_(remake)", f"{j}b")
        records.append(rec)
    k = 0
    for role, n in (("tv", N_TV), ("nolink", N_NO_LINK),
                    ("nodirector", N_NO_DIRECTOR), ("badlink", N_BAD_LINK)):
        for _ in range(n):
            m = {"imdb": int(special_ids[k]), "year": 1990,
                 "day": random_day(rng, 1990, 1990)}
            rec, _ = movie_record(
                m, f"https://en.wikipedia.org/wiki/Other_{k:05d}", role)
            if role == "tv":
                rec["No. of episodes"] = int(rng.integers(6, 200))
            elif role == "nolink":
                del rec["imdb_link"]
            elif role == "nodirector":
                rec.pop("Director", None)
                rec.pop("Directed by", None)
            else:
                rec["imdb_link"] = f"https://www.imdb.com/title/tt{k:05d}/"
            records.append(rec)
            k += 1
    # every key of the union appears at least once, whatever the seed
    present = set().union(*records)
    for k in [k for k, _ in ALT_KEYS] + SYNONYM_KEYS + RARE_KEYS:
        if k not in present:
            i = int(rng.integers(0, N_CLEAN_WIKI))
            records[i][k] = extra_cell(k, movies[i], f"{i}")
    assert len(set().union(*records)) == N_WIKI_KEYS
    order = rng.permutation(len(records))
    with open(os.path.join(out, "wiki_movies.json"), "w",
              encoding="utf-8") as f:
        f.write("[\n")
        f.write(",\n".join(json.dumps(records[i], ensure_ascii=False)
                           for i in order))
        f.write("\n]\n")

    # ---- kaggle rows --------------------------------------------------
    kaggle_ids = rng.choice(np.arange(2, 470000), size=N_KAGGLE,
                            replace=False)
    rows = []
    expected = {}
    header = ["adult", "belongs_to_collection", "budget", "genres",
              "homepage", "id", "imdb_id", "original_language",
              "original_title", "overview", "popularity", "poster_path",
              "production_companies", "production_countries",
              "release_date", "revenue", "runtime", "spoken_languages",
              "status", "tagline", "title", "video", "vote_average",
              "vote_count"]

    def kaggle_row(kid, imdb_num, day, adult="False"):
        budget = 0 if rng.random() < 0.4 else int(rng.integers(1, 300)) * 100000
        revenue = 0 if rng.random() < 0.6 else int(rng.integers(1, 9000)) * 100000
        rt = rng.random()
        run = None if rt < 0.02 else (0 if rt < 0.12 else int(rng.integers(60, 200)))
        w = WORDS[rng.integers(0, 20)]
        row = [adult, "", str(budget),
               "[{'id': 18, 'name': 'Drama'}, {'id': 35, 'name': 'Comedy'}]"
               if rng.random() < 0.5 else "[]",
               "", str(kid), f"tt{imdb_num:07d}" if imdb_num else "",
               "en", f"{w} original", f"A film about {w.lower()}, mostly.",
               f"{rng.uniform(0, 30):.6f}", f"/{w.lower()}{kid}.jpg",
               "[{'name': 'Studio', 'id': 4}]", "[]", day.isoformat(),
               f"{float(revenue)}", "" if run is None else f"{float(run)}",
               "[]", "Released", "", f"{w} {kid}",
               "True" if rng.random() < 0.01 else "False",
               f"{rng.uniform(1, 10):.1f}", f"{float(rng.integers(0, 5000))}"]
        return row, budget, revenue, run

    def fill(primary, fallback):
        return fallback if primary in (0, None) else float(primary)

    ki = 0
    for j in range(N_MATCHED):
        m = movies[j]
        day = (random_day(rng, 1930, 1964) if m.get("mismerge")
               else m["day"])
        row, b, r, run = kaggle_row(kaggle_ids[ki], m["imdb"], day)
        rows.append(row)
        if not m.get("mismerge"):
            expected[int(kaggle_ids[ki])] = [
                fill(r, m["exp"]["box"]), fill(b, m["exp"]["budget"]),
                fill(run, m["exp"]["runtime"])]
        ki += 1
    for j in rng.choice(np.arange(N_MISMERGE, N_MATCHED), size=N_KAGGLE_DUP,
                        replace=False):
        m = movies[j]
        row, b, r, run = kaggle_row(kaggle_ids[ki], m["imdb"], m["day"])
        rows.append(row)
        expected[int(kaggle_ids[ki])] = [
            fill(r, m["exp"]["box"]), fill(b, m["exp"]["budget"]),
            fill(run, m["exp"]["runtime"])]
        ki += 1
    oi = 0
    for _ in range(n_kaggle_only):
        row, *_ = kaggle_row(kaggle_ids[ki], int(other_ids[oi]),
                             random_day(rng, 1915, 2017))
        rows.append(row)
        ki += 1
        oi += 1
    for _ in range(N_NULL_IMDB):
        row, *_ = kaggle_row(kaggle_ids[ki], 0, random_day(rng, 1915, 2017))
        rows.append(row)
        ki += 1
    for _ in range(N_ADULT):
        row, *_ = kaggle_row(kaggle_ids[ki], int(other_ids[oi]),
                             random_day(rng, 1970, 2017), adult="True")
        rows.append(row)
        ki += 1
        oi += 1
    for c in range(N_CORRUPT):       # the shifted-column rows of the source
        rows.append([" - Written by Ørnås", "0.065736",
                     f"/ff9qCepilowshEtG2GYWwzt2bs{c}.jpg",
                     "[{'name': 'Carousel Productions', 'id': 11176}]",
                     "[{'iso_3166_1': 'CA', 'name': 'Canada'}]",
                     "1997-08-20", "0", "104.0", "[]", "Released",
                     "Avalanche Sharks", "x", "x", "x", "1", "x", "x", "x",
                     "x", "x", "x", "x", "x", "x"])
        ki += 1
    kperm = rng.permutation(len(rows))

    def csv_cell(v):
        return f'"{v}"' if ("," in v or "'" in v) else v
    with open(os.path.join(out, "movies_metadata.csv"), "w",
              encoding="utf-8") as f:
        f.write(",".join(header) + "\n")
        for i in kperm:
            f.write(",".join(csv_cell(v) for v in rows[i]) + "\n")

    # ---- ratings ------------------------------------------------------
    matched_kids = kaggle_ids[:N_MATCHED + N_KAGGLE_DUP]
    rank_w = 1.0 / (np.arange(len(matched_kids)) + 10.0) ** 0.8
    src = rng.random(N_RATINGS)
    movie = np.where(
        src < 0.75,
        rng.permutation(matched_kids)[
            rng.choice(len(matched_kids), size=N_RATINGS,
                       p=rank_w / rank_w.sum())],
        np.where(src < 0.95,
                 kaggle_ids[N_MATCHED + N_KAGGLE_DUP:][
                     rng.integers(0, N_KAGGLE - N_MATCHED - N_KAGGLE_DUP,
                                  N_RATINGS)],
                 rng.integers(470000, 480000, N_RATINGS)))
    level = rng.choice(10, size=N_RATINGS, p=LEVEL_W / LEVEL_W.sum())
    user = rng.integers(1, 270001, N_RATINGS)
    ts = rng.integers(789652004, 1501829870, N_RATINGS)
    table = pa.table({"userId": user, "movieId": movie,
                      "rating": (level + 1) * 0.5, "timestamp": ts})
    con = duckdb.connect()
    con.register("ratings", table)
    con.execute("COPY (SELECT * FROM ratings) TO "
                f"'{os.path.join(out, 'ratings.csv')}' (HEADER)")
    con.close()

    # ---- manifest -----------------------------------------------------
    out_kids = np.array(sorted(expected), dtype=np.int64)
    counts = np.zeros((len(out_kids), 10), dtype=np.int64)
    pos = np.searchsorted(out_kids, movie)
    hit = (pos < len(out_kids)) & (out_kids[np.minimum(pos, len(out_kids) - 1)]
                                   == movie)
    np.add.at(counts, (pos[hit], level[hit]), 1)
    cols = ["rating_" + lv.replace(".", "_") for lv in LEVELS]
    manifest = {
        "seed": seed,
        "wiki_rows": N_WIKI, "wiki_keys": N_WIKI_KEYS,
        "kaggle_rows": N_KAGGLE,
        "ratings_rows": int(N_RATINGS),
        "clean_wiki_rows": N_CLEAN_WIKI, "clean_kaggle_rows": N_CLEAN_KAGGLE,
        "join_movies_rows": N_JOINED, "output_rows": N_JOINED,
        "rating_level_totals": dict(zip(cols, counts.sum(0).tolist())),
        "sum_kaggle_id": int(out_kids.sum()),
        "ratings_checksum": {"rows": int(N_RATINGS),
                             "sum_userId": int(user.sum()),
                             "sum_movieId": int(movie.sum()),
                             "sum_rating_x2": int((level + 1).sum())},
        "row_columns": ["revenue", "budget", "runtime"] + cols,
        "rows": {str(k): expected[int(k)] + counts[i].tolist()
                 for i, k in enumerate(out_kids)},
    }
    assert len(expected) == N_JOINED
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


# ---------------------------------------------------------------- tables

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group",
         "hash", "customer", "sort", "order", "slow", "line", "part",
         "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch"]


def _ts_us(days_from, days_span, rng, n, base):
    return (np.datetime64(base, "us")
            + (rng.integers(0, days_span, n) * 86400_000_000
               ).astype("timedelta64[us]")
            + np.timedelta64(days_from * 86400_000_000, "us"))


# The 12 headline queries are overhead-bound at this scale; the documents
# are few because the DuckDB oracle of q_llm_prep_fuzzy costs ~60 ms per
# document.
SF = 0.02
N_DOC = 60
N_EMB = 500


def gen_tables(out, seed):
    """TPC-H-shaped fixture tables (FIXTURES.md section 3) at scale SF,
    with N_DOC documents and N_EMB embeddings."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
        return len(next(iter(cols.values())))

    rows = {}
    rows["region"] = write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows["nation"] = write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    n_cust = int(150_000 * SF)
    rows["customer"] = write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"])[rng.integers(0, 5, n_cust)])})
    n_supp = max(10, int(10_000 * SF))
    rows["supplier"] = write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    n_part = int(200_000 * SF)
    adj = np.array(["large", "small", "hot", "cold", "blue", "red", "green",
                    "shiny"])
    noun = np.array(["ring", "bolt", "rod", "anvil", "widget", "gear",
                     "spring", "valve"])
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = write("part", {
        "p_partkey": pk,
        "p_name": pa.array(np.char.add(np.char.add(
            adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(
            1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(["LARGE", "ECONOMY", "STANDARD",
                                     "PROMO", "SMALL", "MEDIUM"])[
            rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    n_ord = int(1_500_000 * SF)
    rows["orders"] = write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_us(0, 2404, rng, n_ord, "1995-01-01"),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)])})
    n_li = int(6_000_000 * SF)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rows["lineitem"] = write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[
            rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us(1, 2498, rng, n_li, "1995-01-01")})
    n_ev = int(1_000_000 * SF)
    rows["events"] = write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
            0, 30 * 86400_000_000, n_ev).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": pa.array(np.array(
            ["error", "view", "purchase", "signup", "click"])[
            rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(N_DOC):
        if i > 10 and rng.random() < 0.05:   # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[t] for t in
                                  rng.integers(0, len(VOCAB), n_tok)))
    rows["documents"] = write("documents", {
        "doc_id": np.arange(N_DOC, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"])[
            rng.choice(5, N_DOC, p=[0.41, 0.1475, 0.1475, 0.1475,
                                    0.1475])]),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOC)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    label = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] * 0.5 + rng.normal(0, 1, (N_EMB, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = write("embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "sf": SF, "rows": rows}, f)
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("family", choices=["movies", "tables"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    (gen_movies if a.family == "movies" else gen_tables)(a.out, a.seed)


if __name__ == "__main__":
    main()
