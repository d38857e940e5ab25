"""Seeded inputs for the workload benchmark.

Everything the program reads is generated here from one seed, before
any timing starts, into perfbench/.data/seed-<n>/:

  corpus/          tools/gen_sf.py at SF with EVENTS_MULT (module SEED set
                   to the seed); nation/region are built here because
                   gen_sf copies them from a fixture directory
  stream/          the corpus events, re-keyed for the Kafka-shaped replay
  matches_raw.parquet + matches_truth.parquet
                   the daily DAG's scraped input and the generator's own
                   record of what each row means
  retail.csv       the retail COPY input (header + RETAIL_ROWS rows)
  meta.json        sizes and dates; written last, so its presence marks
                   a complete directory
"""
import contextlib
import datetime as dt
import importlib.util
import json
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# sf0.01 keeps every query and index build inside the per-run time budget;
# the loop queries are driver-bound and cost the same at sf0.1.
SF = 0.01
# 30k events in the corpus and in the replayed log: two catch-up micro-batches
EVENTS_MULT = 3
# The reference's real daily volume: 6 leagues x 38 rounds x 10 matches
# (20 clubs, double round robin).
LEAGUES = ["england", "spain", "italy", "germany", "france", "netherlands"]
CLUBS = 20
# The reference COPY file is about 540k lines.
RETAIL_ROWS = 540_000
# As-of dates of one nightly backfill: consecutive days late in the season
# (three warm the daily DAG, three are timed).
BACKFILL_START = dt.date(2025, 5, 12)
BACKFILL_DAYS = 6
# Shares of malformed rows, so MatchExprs' null-on-failure paths run.
BAD_DATE_SHARE = 0.02
BAD_SCORE_SHARE = 0.03
VERSION = 8


def _gen_sf(root):
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen_sf", Path(root) / "tools" / "gen_sf.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _nation_region():
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    return {"nation": nation, "region": region}


class _ParquetShim:
    """Stands in for gen_sf's `pq`: serves nation/region from memory and
    passes writes through."""

    def __init__(self):
        self.fixed = _nation_region()

    def read_table(self, path):
        return self.fixed[Path(path).name.split(".")[0]]

    @staticmethod
    def write_table(table, path):
        pq.write_table(table, path)


def corpus(root, seed, out):
    gen = _gen_sf(root)
    gen.SEED = seed
    gen.pq = _ParquetShim()
    with contextlib.redirect_stdout(sys.stderr):
        gen.main(SF, str(out), events_mult=EVENTS_MULT)


def stream_log(corpus_dir, out):
    """The events log the stream replays, in the replay source's order
    (ts, event_id), with user_id re-keyed so consecutive events rotate
    over the 4 Kafka partitions (partition = user_id mod 4).

    The replay source admits the same number of rows from every partition
    per micro-batch. With random keys the partitions differ in size by a
    few percent, so one partition's event time would run hours ahead of
    another's and the 10-minute watermark would drop the lagging rows as
    late. Rotating keys keeps every partition at the same event time, as
    a producer keying round-robin would, so the stream must equal its
    batch twin.
    """
    ev = pq.read_table(Path(corpus_dir) / "events.parquet")
    order = np.lexsort((ev["event_id"].to_numpy(), ev["ts"].to_numpy().astype("int64")))
    ev = ev.take(pa.array(order))
    uid = ev["user_id"].to_numpy()
    uid = uid - uid % 4 + np.arange(len(uid)) % 4
    ev = ev.set_column(ev.schema.get_field_index("user_id"), "user_id",
                       pa.array(uid, pa.int64()))
    Path(out).mkdir(parents=True, exist_ok=True)
    pq.write_table(ev, Path(out) / "events.parquet")
    return ev.num_rows


def matches(seed, out):
    """matches_raw for one season: a double round robin per league, dated
    weekly from mid-August, plus the scrape's junk rows and malformed
    dates and scores."""
    rng = np.random.default_rng([seed, 1])
    day_abbr = ["Mo", "Tu", "We", "Th", "Fr", "Sa", "Su"]
    raw, truth = [], []
    ordinal = 0
    first_sat = dt.date(2024, 8, 17)
    for league in LEAGUES:
        clubs = [f"{league[:3].title()} Club {i:02d}" for i in range(CLUBS)]
        # circle method: every pair meets once per half-season
        rot = list(range(CLUBS))
        pairs = []
        for _ in range(CLUBS - 1):
            pairs.append([(rot[i], rot[CLUBS - 1 - i]) for i in range(CLUBS // 2)])
            rot = [rot[0]] + [rot[-1]] + rot[1:-1]
        fixtures = pairs + [[(b, a) for a, b in rnd] for rnd in pairs]
        for r, rnd in enumerate(fixtures):
            sat = first_sat + dt.timedelta(days=7 * r)
            for h, a in rnd:
                d = sat + dt.timedelta(days=int(rng.integers(-1, 3)))
                date_s = f"{day_abbr[d.weekday()]} {d.day} {d.strftime('%b')}"
                hs, as_ = int(rng.poisson(1.5)), int(rng.poisson(1.2))
                score = f"{hs} - {as_}"
                if rng.random() < BAD_DATE_SHARE:
                    date_s = ["postponed", f"{day_abbr[d.weekday()]} ?? {d.strftime('%b')}"][
                        int(rng.integers(0, 2))]
                    d = None
                if rng.random() < BAD_SCORE_SHARE:
                    score = ["P - P", "-", ""][int(rng.integers(0, 3))]
                    hs = as_ = None
                ordinal += 1
                raw.append((ordinal, date_s, clubs[h], score, clubs[a], league))
                if d is not None:
                    truth.append((league, d, clubs[h], clubs[a], hs, as_))
        # the results page's footer rows
        for junk in [("Averages", "", "", ""), ("Percentages", "", "", ""),
                     ("", "Totals", "", "")]:
            ordinal += 1
            raw.append((ordinal, junk[0], junk[1], junk[2], junk[3], league))
    cols = list(zip(*raw))
    pq.write_table(pa.table({
        "ordinal": pa.array(cols[0], pa.int32()),
        "date": pa.array(cols[1]), "home_team": pa.array(cols[2]),
        "score": pa.array(cols[3]), "away_team": pa.array(cols[4]),
        "league": pa.array(cols[5]),
    }), Path(out) / "matches_raw.parquet")
    t = list(zip(*truth))
    pq.write_table(pa.table({
        "league": pa.array(t[0]), "date": pa.array(t[1], pa.date32()),
        "home": pa.array(t[2]), "away": pa.array(t[3]),
        "hs": pa.array(t[4], pa.int32()), "as_": pa.array(t[5], pa.int32()),
    }), Path(out) / "matches_truth.parquet")
    return len(raw)


def standings(data_dir, as_of):
    """Reference standings for one as-of date, from the generator's truth
    table: every played match dated before `as_of`, ranked the way the
    reference DAG ranks clubs."""
    t = pq.read_table(Path(data_dir) / "matches_truth.parquet").to_pylist()
    acc = {}
    for m in t:
        if m["date"] >= as_of or m["hs"] is None or m["as_"] is None:
            continue
        for club, gf, ga in ((m["home"], m["hs"], m["as_"]),
                             (m["away"], m["as_"], m["hs"])):
            s = acc.setdefault((m["league"], club), dict(
                match=0, win=0, draw=0, loss=0, goal_for=0, goal_against=0))
            s["match"] += 1
            s["win"] += gf > ga
            s["draw"] += gf == ga
            s["loss"] += gf < ga
            s["goal_for"] += gf
            s["goal_against"] += ga
    rows = []
    for (league, club), s in acc.items():
        s.update(league=league, club=club, points=3 * s["win"] + s["draw"],
                 goal_diff=s["goal_for"] - s["goal_against"])
        rows.append(s)
    rows.sort(key=lambda s: (s["league"], -s["points"], -s["goal_for"],
                             -s["goal_against"], -s["win"], -s["draw"],
                             -s["loss"], s["club"]))
    rank = {}
    for s in rows:
        rank[s["league"]] = rank.get(s["league"], 0) + 1
        s["id"] = rank[s["league"]]
    return rows


def retail(seed, out):
    """UCI Online-Retail-shaped invoice lines; (InvoiceNo, StockCode) is
    unique so the preview's ORDER BY has no ties. Returns the sorted first
    five rows, which the preview must reproduce."""
    rng = np.random.default_rng([seed, 2])
    n = RETAIL_ROWS
    lines = np.maximum(1, rng.poisson(5.0, n // 5 + 1))
    lines = lines[:np.searchsorted(np.cumsum(lines), n) + 1]
    lines[-1] -= lines.sum() - n
    inv = np.repeat(np.arange(len(lines)), lines)
    pos = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines)
    n_stock = 4000
    stock = (np.repeat(rng.integers(0, n_stock, len(lines)), lines) + pos) % n_stock
    cancel = np.repeat(rng.random(len(lines)) < 0.02, lines)
    invoice_no = np.char.add(np.where(cancel, "C", ""), (536365 + inv).astype(str))
    suffix = np.array(["", "A", "B", "C"])[stock % 4]
    stock_code = np.char.add((84000 + stock).astype(str), suffix)
    words = np.array(["WHITE", "HANGING", "HEART", "LANTERN", "RED", "TEA", "SET",
                      "VINTAGE", "BAG", "CANDLE", "HOLDER", "METAL", "SIGN", "BOX"])
    desc = np.char.add(np.char.add(words[stock % 14], " "), words[(stock // 14) % 14])
    price = np.round(rng.uniform(0.1, 20.0, n), 2)
    qty = rng.integers(1, 25, n) * np.where(cancel, -1, 1)
    day = np.repeat(rng.integers(0, 373, len(lines)), lines)
    date = (np.datetime64("2010-12-01") + day).astype(str)
    cust = np.repeat(rng.integers(12346, 18288, len(lines)).astype(str), lines)
    cust = np.where(np.repeat(rng.random(len(lines)) < 0.1, lines), "", cust)
    countries = np.array(["United Kingdom", "France", "Germany", "EIRE", "Spain",
                          "Netherlands", "Belgium", "Switzerland", "Portugal"])
    country = countries[np.repeat(rng.choice(9, len(lines), p=[
        .8, .04, .04, .03, .03, .02, .02, .01, .01]), lines)]
    table = pa.table({
        "InvoiceNo": invoice_no, "StockCode": stock_code, "Description": desc,
        "Quantity": qty, "InvoiceDate": date, "UnitPrice": price,
        # an empty field is a NULL CustomerID, as in the UCI file
        "CustomerID": pa.array(cust, mask=cust == ""), "Country": country})
    pacsv.write_csv(table, Path(out) / "retail.csv",
                    pacsv.WriteOptions(quoting_style="none"))
    first = np.lexsort((stock_code, invoice_no))[:5]
    return [{"InvoiceNo": str(invoice_no[i]), "StockCode": str(stock_code[i]),
             "Description": str(desc[i]), "Quantity": int(qty[i]),
             "InvoiceDate": str(date[i]), "UnitPrice": float(price[i]),
             "CustomerID": str(cust[i]) or None, "Country": str(country[i])}
            for i in first]


def generate(root, seed, data_root):
    """Inputs for `seed` under data_root/seed-<seed>; reused when present."""
    out = Path(data_root) / f"seed-{seed}"
    meta_path = out / "meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if meta.get("version") == VERSION:
            return out, meta
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    corpus(root, seed, out / "corpus")
    stream_rows = stream_log(out / "corpus", out / "stream")
    raw_rows = matches(seed, out)
    preview = retail(seed, out)
    dates = [str(BACKFILL_START + dt.timedelta(days=i)) for i in range(BACKFILL_DAYS)]
    meta = {"version": VERSION, "seed": seed, "sf": SF, "stream_rows": stream_rows,
            "matches_raw_rows": raw_rows, "retail_rows": RETAIL_ROWS,
            "retail_preview": preview, "dates": dates}
    tmp = out / "meta.json.tmp"
    tmp.write_text(json.dumps(meta))
    os.replace(tmp, meta_path)
    return out, meta
