"""Seeded inputs for the two workloads, and the outcomes the program must
produce on them, computed here in plain Python without Spark.

Every workload has fixed sizes and fixed proportions (exact counts, not
random draws), so two seeds give the same amount of work; the seed only
decides which values go where.
"""
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1900, 1, 1)


def day_key(t):
    return t.strftime("%Y_%m_%d")


def micros(t):
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


# --------------------------------------------------------------- etl_daily
#
# Reference-format inputs (FIXTURES.md section A): a genres CSV, one
# ';'-delimited EPG CSV per day, and per-tick toplist and tracker page
# chunk files covering the 8-day lookback.

ETL_ROWS_PER_DAY = 600
ETL_LOOKBACK = 4           # days in the toplist/tracker window, and backfilled
ETL_WARM_ROUNDS = 1        # warm-up rounds on a separate table set, in set-up
ETL_START = dt.datetime(2021, 3, 1)

SENDERS = [("Das Erste", "DasErste"), ("ZDF", "ZDF"), ("RTL 2", "RTL2"),
           ("Pro Sieben", "ProSieben"), ("Sat 1", "Sat1"), ("Kabel Eins", "KabelEins"),
           ("VOX", "VOX"), ("3sat", "3sat"), ("arte", "arte"), ("Phoenix", "Phoenix"),
           ("BBC One", "BBCOne"), ("ZDF neo", "ZDFneo")]
GENRES = ["Krimi", "Spielfilm", "Serie", "Show", "Doku", "Sport", "Nachrichten",
          "Kinder", "Musik", "Comedy", "Natur", "Reise"]
WORDS = ["Tatort", "Mord", "Nacht", "Stadt", "Leben", "Liebe", "Reise", "Küste",
         "Berge", "Geheimnis", "Spätfilm", "Großstadt", "Tagebuch", "Wölfe",
         "Sommer", "Winter", "Insel", "Zeit", "Spiel", "Märchen"]
# link token between TVOON_DE and otrkey.torrent → stored Resolution
RESOLUTIONS = [(".mpg.HD.avi.", "HD"), (".mpg.HQ.avi.", "HQ"), (".mpg.avi.", "DIVX"),
               (".mpg.mp4.", "MP4"), (".mpg.HD.ac3.", "HD.AC3"), (".mpg.cut.", "AVI")]
BAD_DATES = ["", "n/a", "2021-03-05 20:15:00", "??.??.???? ??:??:??"]
EPG_HEADER = ["Id", "beginn", "ende", "dauer", "sender", "titel", "typ", "text", "zusatz",
              "wdh", "genre_id", "fsk", "weekday", "language", "downloadlink", "infolink",
              "programlink"]


def norm_sender(s):
    return s.replace(" ", "").lower()


def time_key(t):
    return t.strftime("%y.%m.%d %H-%M-%S")


def exact_labels(rng, n, shares):
    """n labels with exact counts from (label, share) pairs, shuffled."""
    out = []
    for label, share in shares[1:]:
        out += [label] * int(n * share)
    out = [shares[0][0]] * (n - len(out)) + out
    rng.shuffle(out)
    return out


def etl_genres():
    rows = [(str(i + 1), g) for i, g in enumerate(GENRES)]
    # a duplicate Nummer (the max Kategorie wins) and a non-numeric one
    rows += [("5", "Dokumentation"), ("x", "Unbekannt")]
    return rows


def etl_genre_table(rows):
    """PartitionKey 'all', RowKey the raw Nummer, max Kategorie per key."""
    table = {}
    for nummer, kat in rows:
        gid = int(nummer) if nummer.isdigit() else 0
        old = table.get(nummer)
        table[nummer] = (gid, kat if old is None else max(old[1], kat))
    return {("all", k): v for k, v in table.items()}


def etl_day_rows(rng, day_index):
    """One day's EPG rows as dicts; beginn stays a string as written."""
    n = ETL_ROWS_PER_DAY
    day = ETL_START + dt.timedelta(days=day_index)
    langs = exact_labels(rng, n, [("de", 0.8), ("en", 0.1), ("", 0.1)])
    # unparseable dates: two thirds on kept ('de') rows, a third on dropped
    de = [j for j in range(n) if langs[j] == "de"]
    other = [j for j in range(n) if langs[j] != "de"]
    bad = set(rng.sample(de, n // 150) + rng.sample(other, n // 100 - n // 150))
    unknown_genre = set(rng.sample(range(n), n // 20))
    per_sender = -(-n // len(SENDERS))
    step = 1440 // per_sender
    ids = rng.sample(range(100_000), n)
    rows = []
    for j in range(n):
        sender = SENDERS[j % len(SENDERS)][0]
        begin = day + dt.timedelta(minutes=(j // len(SENDERS)) * step)
        dauer = rng.randint(5, 120)
        rid = 1_000_000 + day_index * 100_000 + ids[j]
        titel = " ".join(rng.sample(WORDS, 2))
        rows.append({
            "Id": rid,
            "beginn": rng.choice(BAD_DATES) if j in bad else begin.strftime("%d.%m.%Y %H:%M:%S"),
            "ende": (begin + dt.timedelta(minutes=dauer)).strftime("%d.%m.%Y %H:%M:%S"),
            "dauer": dauer, "sender": sender, "titel": titel, "typ": "Film",
            "text": f"{titel} über {sender}", "zusatz": "", "wdh": "",
            "genre_id": rng.randint(90, 99) if j in unknown_genre else rng.randint(1, len(GENRES)),
            "fsk": str(rng.choice([0, 6, 12, 16])), "weekday": begin.strftime("%a"),
            "language": langs[j], "downloadlink": f"http://dl/{rid}",
            "infolink": f"http://info/{rid}", "programlink": f"http://prog/{rid}"})
    # duplicate Ids: same key (same Id and beginn), another titel and link
    good = [r for r in rows if r["language"] == "de" and r["beginn"] not in BAD_DATES]
    for r in rng.sample(good, n // 100):
        dup = dict(r, titel=" ".join(rng.sample(WORDS, 2)), downloadlink=r["downloadlink"] + "/b")
        rows.insert(rng.randrange(len(rows) + 1), dup)
    return rows


def write_epg_csv(path, rows):
    with open(path, "wb") as f:
        f.write((";".join(EPG_HEADER) + "\n").encode())
        for i, r in enumerate(rows):
            line = ";".join(str(r[c]) for c in EPG_HEADER).encode()
            if i % 500 == 7:  # a stray invalid byte in the free-text column
                line = line.replace(b"\xc3\xbcber", b"\xff\xfcber", 1)
            f.write(line + b"\n")


def parse_beginn(s):
    try:
        return dt.datetime.strptime(s, "%d.%m.%Y %H:%M:%S")
    except ValueError:
        return EPOCH


def etl_records(rows, genre_by_id):
    """Pipelines.epgRecords + the upsert's dedup: the 'de' rows keyed
    (day of beginn, Id), genre enriched, one winner per key by the
    smallest (beginn, titel, downloadlink)."""
    out = {}
    for r in rows:
        if r["language"] != "de":
            continue
        b = parse_beginn(r["beginn"])
        key = (day_key(b), str(r["Id"]))
        rec = {"Id": r["Id"], "beginn": b, "sender": r["sender"], "titel": r["titel"],
               "genre": genre_by_id.get(r["genre_id"], "Sonstiges"),
               "order": (b, r["titel"], r["downloadlink"])}
        if key not in out or rec["order"] < out[key]["order"]:
            out[key] = rec
    return out


def etl_toplist(rng, day_index, rows, recs):
    """A day's toplist entries (epg_id, rating, date): twelve stored
    recordings of that day, three per rating, and four misses (two
    dropped non-'de' rows, two unknown Ids), one per rating."""
    day = ETL_START + dt.timedelta(days=day_index)
    dk = day_key(day)
    stored = sorted(int(k[1]) for k in recs if k[0] == dk)
    dropped = sorted({r["Id"] for r in rows if r["language"] != "de"})
    hits = rng.sample(stored, 12)
    misses = rng.sample(dropped, 2) + [9_000_000 + i for i in rng.sample(range(100_000), 2)]
    ratings = ["sehr hoch", "hoch", "mittel", "niedrig"]
    hit_ratings = ratings * 3
    rng.shuffle(hit_ratings)
    rng.shuffle(ratings)
    return ([(i, r, day) for i, r in zip(hits, hit_ratings)]
            + [(i, r, day) for i, r in zip(misses, ratings)])


def etl_torrents(rng, day_index, top_entries, recs):
    """A day's tracker torrents: four of the six highly rated stored
    entries, three of the six others, and twenty unlisted recordings,
    with one, two or three resolutions each in turn."""
    dk = day_key(ETL_START + dt.timedelta(days=day_index))
    stored = [(str(i), r) for i, r, _ in top_entries if (dk, str(i)) in recs]
    high = [i for i, r in stored if r in ("sehr hoch", "hoch")]
    low = [i for i, r in stored if r not in ("sehr hoch", "hoch")]
    listed = {i for i, _ in stored}
    others = sorted(set(k[1] for k in recs if k[0] == dk) - listed)
    with_torrents = rng.sample(high, 4) + rng.sample(low, 3) + rng.sample(others, 20)
    out = []
    for n, rid in enumerate(with_torrents):
        rec = recs[(dk, rid)]
        token = next(t for s, t in SENDERS if s == rec["sender"])
        for tok, res in rng.sample(RESOLUTIONS, 1 + n % 3):
            out.append({"rec": rec, "token": token, "tok": tok, "res": res,
                        "finished": rng.randint(0, 50)})
    return out


def toplist_chunk(entry):
    rid, rating, day = entry
    return (f"<tr><td><a href='detail?epg_id={rid}'>Sendung {rid}</a></td>"
            f"<td rating='{rating}'></td><td><img src='http://img/{rid}.jpg'></td>"
            f"<td>{day.strftime('%d.%m.%y')}</td></tr>")


def tracker_chunk(t, tick):
    rec = t["rec"]
    b = rec["beginn"]
    title = rec["titel"].replace(" ", "_")
    link = (f"http://tracker/dl/{title}_{b.strftime('%y.%m.%d_%H-%M')}_{t['token'].lower()}_"
            f"90_TVOON_DE{t['tok']}otrkey.torrent")
    shown = f"{rec['titel']} {b.strftime('%y.%m.%d %H-%M')} {t['token']} {t['res']}"
    counts = f"finished={t['finished'] + tick} loading={tick % 4} loaded={t['finished']}"
    return f"<tr><td><a href='{link}'>{shown}</a></td><td>{counts}</td></tr>", link


def gen_etl(seed, work, rounds):
    """Writes the inputs under work/in and returns (spec, expected).
    The run is the backfill tick, warm-up rounds of the first timed day's
    tick and its repeat on a separate, empty table set, then per timed
    round one new day's tick and its repeat."""
    rng = random.Random(seed)
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    genres = etl_genres()
    with open(os.path.join(in_dir, "genres.csv"), "w", encoding="utf-8") as f:
        f.write("Nummer;Kategorie\n" + "".join(f"{a};{b}\n" for a, b in genres))
    genre_table = etl_genre_table(genres)
    genre_by_id = {gid: g for gid, g in genre_table.values()}

    n_days = ETL_LOOKBACK + rounds
    day_rows, day_recs, tops, torrents = {}, {}, {}, {}
    for d in range(n_days):
        rows = etl_day_rows(rng, d)
        write_epg_csv(os.path.join(in_dir, f"epg_{day_key(ETL_START + dt.timedelta(days=d))}.csv"),
                      rows)
        day_rows[d] = rows
        day_recs[d] = etl_records(rows, genre_by_id)
        tops[d] = etl_toplist(rng, d, rows, day_recs[d])
        torrents[d] = etl_torrents(rng, d, tops[d], day_recs[d])

    # the model: four tables as dicts keyed (PartitionKey, RowKey)
    recordings, top, stored = {}, {}, {}
    removed_tops = set()
    tables_dir = os.path.join(work, "tables")
    ticks = []
    for k in range(1 + 2 * rounds):
        t = ETL_LOOKBACK - 1 + (k + 1) // 2   # the tick's day index
        day = ETL_START + dt.timedelta(days=t)
        start = day - dt.timedelta(days=ETL_LOOKBACK - 1)
        epg_days = list(range(t - ETL_LOOKBACK + 1, t + 1)) if k == 0 else [t]
        toplist_name, tracker_name = f"toplist_{day_key(day)}.txt", f"tracker_{day_key(day)}.txt"
        page_days = range(t - ETL_LOOKBACK + 1, t + 1)
        with open(os.path.join(in_dir, toplist_name), "w", encoding="utf-8") as f:
            for d in page_days:
                f.writelines(toplist_chunk(e) + "\n" for e in tops[d])
        tracker_rows = []
        with open(os.path.join(in_dir, tracker_name), "w", encoding="utf-8") as f:
            for d in range(max(0, t - ETL_LOOKBACK - 1), t + 1):  # two days past the window
                for tr in torrents[d]:
                    line, link = tracker_chunk(tr, t)
                    f.write(line + "\n")
                    tracker_rows.append((tr, link))
        ticks.append({"day": day_key(day), "phase": "backfill" if k == 0 else "timed",
                      "epg_days": [day_key(ETL_START + dt.timedelta(days=d)) for d in epg_days],
                      "toplist": toplist_name, "tracker": tracker_name,
                      "startdate": start.strftime("%Y-%m-%d %H:%M:%S"),
                      "tables_dir": tables_dir})
        if k > 0 and k % 2 == 0:
            ticks[-1]["repeat"] = True

        # E1: a day's file imports only while its day partition is empty
        for d in epg_days:
            dk = day_key(ETL_START + dt.timedelta(days=d))
            if not any(key[0] == dk for key in recordings):
                recordings.update(day_recs[d])
        # E2: rating threshold, semi-join to stored recordings, insert-if-absent
        for d in page_days:
            for rid, rating, pday in tops[d]:
                key = (day_key(pday), str(rid))
                if rating in ("sehr hoch", "hoch") and key in recordings:
                    top.setdefault(("top", key[1]), recordings[key])
        # E3: window, join on (time key, sender), upsert, cascade
        def jk(b, sender):
            return time_key(b) + "|" + norm_sender(sender)
        windowed = [(tr, link) for tr, link in tracker_rows if tr["rec"]["beginn"] >= start]
        win_keys = {jk(tr["rec"]["beginn"], tr["token"]) for tr, _ in windowed}
        top_jk = {key: jk(r["beginn"], r["sender"]) for key, r in top.items()}
        matched = {}
        for tr, link in windowed:
            j = jk(tr["rec"]["beginn"], tr["token"])
            for key, tj in top_jk.items():
                if tj == j:
                    tkey = (str(top[key]["Id"]), tr["res"])
                    if tkey not in matched or link < matched[tkey]:
                        matched[tkey] = link
        stored.update(matched)
        doomed = {key for key, tj in top_jk.items() if tj not in win_keys}
        for key in doomed:
            del top[key]
        removed_tops |= doomed
        doomed_ids = {key[1] for key in doomed}
        for key in [k for k in stored if k[0] in doomed_ids]:
            del stored[key]

    warm = [dict(t, phase="warmup", tables_dir=os.path.join(work, "warm"))
            for t in ticks[1:3]] * ETL_WARM_ROUNDS
    spec = {"in_dir": in_dir, "tables_dir": tables_dir, "ticks": ticks[:1] + warm + ticks[1:]}
    expected = {
        "genres": sorted([pk, rk, gid, g] for (pk, rk), (gid, g) in genre_table.items()),
        "recordings": sorted([pk, rk, r["genre"], r["titel"]] for (pk, rk), r in recordings.items()),
        "top": sorted([pk, rk] for pk, rk in top),
        "torrents": sorted([pk, rk, link] for (pk, rk), link in stored.items()),
        # the tops the cascade deleted and no later tick brought back
        "removed_tops": sorted([pk, rk] for pk, rk in removed_tops - top.keys()),
    }
    return spec, expected


# -------------------------------------------------------- analytic_queries

ANALYTIC_QUERIES = ["q01_pricing_summary", "q05_star_revenue", "q119_pagerank_directed",
                    "q198_qdigest_quantiles"]
ANALYTIC_WARM_PASSES = 2
DOC_WORDS = ["the", "fast", "key", "order", "sort", "table", "scan", "merge", "part", "window",
             "small", "hash", "join", "batch", "stream", "spark", "dup", "group", "query", "row",
             "data", "slow", "filter", "customer", "line", "value", "column", "big", "agg",
             "vector", "a"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


# rows of the tables the queries read, as in the repository's sf0.01 corpus
N_CUSTOMER, N_ORDERS, LINES_PER_ORDER, N_DOCS = 1_500, 15_000, 4, 500
MKT_SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def gen_analytic(seed, work, rounds):
    """The TPC-H-shaped tables and the documents the listed queries read."""
    rng = random.Random(seed)
    d = os.path.join(work, "data")
    os.makedirs(d)
    ts = pa.timestamp("ms")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    def ints(xs, t=pa.int64()):
        return pa.array(xs, t)

    write("region", {"r_regionkey": ints(range(5), pa.int32()), "r_name": REGIONS})
    write("nation", {"n_nationkey": ints(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": ints([i % 5 for i in range(25)], pa.int32())})
    write("customer", {"c_custkey": ints(range(N_CUSTOMER)),
                       "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                       "c_nationkey": ints([rng.randrange(25) for _ in range(N_CUSTOMER)],
                                           pa.int32()),
                       "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(N_CUSTOMER)],
                       "c_mktsegment": [rng.choice(MKT_SEGMENTS) for _ in range(N_CUSTOMER)]})
    o_dates = [dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(2555))
               for _ in range(N_ORDERS)]
    write("orders", {"o_orderkey": ints(range(N_ORDERS)),
                     "o_custkey": ints([rng.randrange(N_CUSTOMER) for _ in range(N_ORDERS)]),
                     "o_orderstatus": [rng.choice("FOP") for _ in range(N_ORDERS)],
                     "o_totalprice": [round(rng.uniform(1000, 400000), 2) for _ in range(N_ORDERS)],
                     "o_orderdate": ints([micros(t) // 1000 for t in o_dates]).cast(ts),
                     "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(N_ORDERS)]})
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for o in range(N_ORDERS):
        for ln in range(1, LINES_PER_ORDER + 1):
            p = rng.randrange(20_000)
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(o); li["l_partkey"].append(p)
            li["l_suppkey"].append(rng.randrange(1_000)); li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * (900 + p / 10 + rng.uniform(0, 100)), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR")); li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(micros(o_dates[o] + dt.timedelta(days=rng.randint(1, 120)))
                                    // 1000)
    for k in ("l_orderkey", "l_partkey", "l_suppkey"):
        li[k] = ints(li[k])
    li["l_linenumber"] = ints(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = ints(li["l_shipdate"]).cast(ts)
    write("lineitem", li)

    # documents: the directed PageRank query derives its graph from doc_id
    texts = [" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(20, 90)))
             for _ in range(N_DOCS)]
    write("documents", {"doc_id": ints(range(N_DOCS)), "text": texts,
                        "lang": [rng.choice(["en", "de", "fr", "es", "zh"]) for _ in range(N_DOCS)],
                        "source": [f"src{i % 20}" for i in range(N_DOCS)],
                        "n_chars": ints([len(t) for t in texts])})
    spec = {"data_dir": d, "queries": ANALYTIC_QUERIES, "warm_passes": ANALYTIC_WARM_PASSES,
            "timed_passes": rounds}
    return spec, {"queries": ANALYTIC_QUERIES, "data_dir": d}


GENERATORS = {"etl_daily": gen_etl, "analytic_queries": gen_analytic}
