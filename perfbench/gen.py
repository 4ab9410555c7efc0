"""Seeded input generators for the three benchmark workloads.

Each generator writes its inputs into a fresh directory and returns the
answers the correctness checks compare against. The answers come from a
plain-Python model of the workload's semantics, never from the program
under test. The same seed always gives byte-identical inputs.

  lvr_ingest       K quarterly drops of raw LVR CSVs (FIXTURES.md section A)
  corpus_curation  a document corpus with planted exact and near duplicates
  lakehouse_mor    an orders-like keyed table plus a stream of upserts/deletes
"""
import json
import random
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- lvr_ingest

LVR = {
    "drops": 3,            # quarterly drops per episode
    "rows_per_file": 150,  # data rows per city file per drop
    "messy_share": 0.10,   # rows with an invalid/empty/garbage date
    "revised_share": 0.06,  # share of a drop's rows re-issuing an earlier row
}

CITY = {
    "a": "台北市", "b": "台中市", "c": "基隆市", "d": "台南市",
    "e": "高雄市", "f": "新北市", "g": "宜蘭縣", "h": "桃園縣",
    "j": "新竹縣", "k": "苗栗縣", "l": "臺中縣", "m": "南投縣",
    "n": "彰化縣", "p": "雲林縣", "q": "嘉義縣", "r": "臺南縣",
    "s": "高雄縣", "t": "屏東縣", "u": "花蓮縣", "v": "臺東縣",
    "x": "澎湖縣", "y": "陽明山", "w": "金門縣", "z": "連江縣",
    "i": "嘉義市", "o": "新竹市"}

ZH_HEADER = ["鄉鎮市區", "交易標的", "土地位置建物門牌", "土地移轉總面積平方公尺",
             "建物移轉總面積平方公尺", "建築完成年月", "交易年月日", "總價元", "單價元平方公尺"]
EN_HEADER = ["township dist", "transaction sign", "position", "land area m2",
             "building area m2", "completion date", "transaction date",
             "total price", "unit price m2"]
SIGNS = [("房地(含車位)", 30), ("房地", 25), ("土地", 25), ("車位", 10), ("建物", 10)]
TOWNS = ["中正區", "大安區", "信義區", "礁溪鄉", "頭城鎮", "五結鄉", "冬山鄉", "北屯區"]
SECTIONS = ["大湖段", "青仔地段", "下埔段", "民權段", "幸福段", "和平段", "長安段"]
ROADS = ["中正路", "艋舺大道", "民生東路", "光復北路"]
M2_PER_PING = 3.30579


def _month_len(y, m):
    if m == 2:
        return 29 if (y % 4 == 0 and y % 100 != 0) or y % 400 == 0 else 28
    return 30 if m in (4, 6, 9, 11) else 31


def roc_date(s):
    """ROC 'yyymmdd' (6-7 digits) -> (year, month, day) or None."""
    if not (6 <= len(s) <= 7) or not s.isdigit():
        return None
    y, m, d = int(s[:-4]) + 1911, int(s[-4:-2]), int(s[-2:])
    if not 1 <= m <= 12 or not 1 <= d <= _month_len(y, m):
        return None
    return (y, m, d)


def to_long(s):
    return int(s) if s.isdigit() else None


def to_double(s):
    try:
        return float(s)
    except ValueError:
        return None


def round_half_up(x, scale=2):
    """Decimal HALF_UP round of a double's shortest decimal form."""
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP))


def _lvr_row(rng, serial, messy_share):
    sign = rng.choices([s for s, _ in SIGNS], [w for _, w in SIGNS])[0]
    kind = rng.random()
    if kind < 0.05:  # quoted comma-bearing street address
        position = f'"{rng.choice(ROADS)}{serial}號, {rng.randint(1, 30)}樓"'
    elif kind < 0.10:  # no 段 in the position
        position = f"{rng.choice(ROADS)}{serial}號"
    else:
        position = f"{rng.choice(SECTIONS)}{serial}地號"
    if rng.random() < messy_share:
        date = rng.choice(["1101301", "1100732", "1090230", "1100700", "", "abc", "11007181"])
    else:
        y = rng.randint(99, 113)
        m = rng.randint(1, 12)
        d = rng.randint(1, _month_len(y + 1911, m))
        date = f"{y:02d}{m:02d}{d:02d}" if y < 100 else f"{y:03d}{m:02d}{d:02d}"
    r = rng.random()
    total = ("xyz" if r < 0.02 else "" if r < 0.03
             else str(rng.randint(2**31, 6_000_000_000)) if r < 0.08
             else str(rng.randint(100_000, 80_000_000)))
    land_area = f"{rng.uniform(10, 900):.4f}"
    r = rng.random()
    bld_area = "0" if r < 0.02 else "abc" if r < 0.04 else f"{rng.uniform(15, 400):.3f}"
    r = rng.random()
    unit = "0" if r < 0.06 else "" if r < 0.08 else f"{rng.uniform(1000, 900000):.1f}"
    completion = f"{rng.randint(60, 112):03d}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"
    return [rng.choice(TOWNS), sign, position, land_area, bld_area, completion,
            date, total, unit]


def _revise(rng, row):
    row = list(row)
    row[7] = str(rng.randint(100_000, 80_000_000))
    row[8] = "0" if rng.random() < 0.1 else f"{rng.uniform(1000, 900000):.1f}"
    return row


def _pipeline_row(city, row, table):
    """The building/land pipeline's output for one raw row, or None."""
    town, sign, position, land_area, bld_area, _, date, total, unit = row
    keep = sign.startswith("房地") if table == "building" else sign == "土地"
    ymd = roc_date(date)
    if not keep or ymd is None:
        return None
    area = to_double(bld_area if table == "building" else land_area)
    total_l, unit_d = to_long(total), to_double(unit)
    if unit_d == 0:
        unit_d = None if (total_l is None or not area) else round_half_up(total_l / area)
    ping = None if unit_d is None else round_half_up(unit_d * M2_PER_PING)
    return {"key": f"{city}|{position.strip(chr(34))}|{ymd}", "city": city,
            "year": ymd[0], "total_price": total_l, "unit_price_ping": ping}


def gen_lvr(out: Path, seed: int, drops=None, rows_per_file=None, cities=None):
    rng = random.Random(seed)
    letters = sorted(CITY)[:cities or len(CITY)]
    drops = drops or LVR["drops"]
    rows_per_file = rows_per_file or LVR["rows_per_file"]
    serial = {c: 1000 * (i + 1) for i, c in enumerate(letters)}
    issued = {c: [] for c in CITY}  # raw rows already published, per city
    tables = {"building": {}, "land": {}}
    expected = []
    per_drop_rows, per_drop_bytes = [], []
    for k in range(drops):
        drop_rows, drop_bytes = [], []
        d = out / f"drop_{k}"
        d.mkdir(parents=True)
        roc_year, quarter = 108 + k // 4, k % 4 + 1
        for letter in letters:
            rows = []
            for _ in range(rows_per_file):
                if issued[letter] and rng.random() < LVR["revised_share"]:
                    rows.append(_revise(rng, rng.choice(issued[letter])))
                else:
                    serial[letter] += rng.randint(1, 7)
                    rows.append(_lvr_row(rng, serial[letter], LVR["messy_share"]))
            # a re-issued row is the latest version of its key; a key must
            # appear at most once within one drop
            seen, uniq = set(), []
            for r in reversed(rows):
                ident = (r[2], r[6])
                if ident not in seen:
                    seen.add(ident)
                    uniq.append(r)
            rows = list(reversed(uniq))
            issued[letter].extend(rows)
            lines = ["\ufeff" + ",".join(ZH_HEADER), ",".join(EN_HEADER)]
            lines += [",".join(r) for r in rows]
            body = ("\n".join(lines) + "\n").encode("utf-8")
            (d / f"{roc_year:03d}S{quarter}_{letter}_lvr_land_a.csv").write_bytes(body)
            for r in rows:
                for t in tables:
                    p = _pipeline_row(CITY[letter], r, t)
                    if p:
                        tables[t][p["key"]] = p
            drop_rows.append(len(rows))
            drop_bytes.append(len(body))
        expected.append(_lvr_expect(tables))
        per_drop_rows.append(sum(drop_rows))
        per_drop_bytes.append(sum(drop_bytes))
    return {"drops": drops, "drop_rows": per_drop_rows, "drop_bytes": per_drop_bytes,
            "expected": expected}


def _lvr_expect(tables):
    per_city = {}
    for t, rows in tables.items():
        acc = {}
        for p in rows.values():
            n, s = acc.get(p["city"], (0, None))
            v = p["total_price"]
            acc[p["city"]] = (n + 1, s if v is None else (s or 0) + v)
        per_city[t] = {c: [n, s] for c, (n, s) in acc.items()}
    def avg(key):
        out = {}
        for t, rows in tables.items():
            groups = {}
            for p in rows.values():
                g = groups.setdefault(key(p), [0, 0.0, 0])
                g[0] += 1
                if p["unit_price_ping"] is not None:
                    g[1] += p["unit_price_ping"]
                    g[2] += 1
            out[t] = {k: [n, (s / m if m else None)] for k, (n, s, m) in groups.items()}
        return out
    return {"per_city": per_city,
            "avg_by_city_year": avg(lambda p: f'{p["city"]}|{p["year"]}'),
            "avg_by_year": avg(lambda p: str(p["year"]))}


# ----------------------------------------------------------- corpus_curation

CORPUS = {
    "docs": 10000,
    "exact_share": 0.08,  # docs that are verbatim copies of another doc
    "near_share": 0.10,   # docs that are edited variants in a near-dup cluster
    "edit_rate": 0.05,    # share of a variant's words replaced
}
# documents.parquet's token histogram: 31 roughly equiprobable words,
# 10 to 100 words per document
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]


def gen_corpus(out: Path, seed: int, docs=None):
    rng = random.Random(seed)
    n = docs or CORPUS["docs"]
    n_exact = int(n * CORPUS["exact_share"])
    n_near = int(n * CORPUS["near_share"])
    texts, groups, seen = [], [], set()

    def add(words, group):
        t = " ".join(words)
        if t in seen:
            return False
        seen.add(t)
        texts.append(t)
        groups.append(group)
        return True

    # near-dup clusters: a base doc plus 1-3 edited variants
    g = 0
    while sum(1 for x in groups if x is not None) - g < n_near:
        base = [rng.choice(VOCAB) for _ in range(rng.randint(45, 100))]
        if not add(base, g):
            continue
        for _ in range(rng.randint(1, 3)):
            v = list(base)
            for p in rng.sample(range(len(v)), max(1, int(len(v) * CORPUS["edit_rate"]))):
                v[p] = rng.choice([w for w in VOCAB if w != v[p]])
            add(v, g)
        g += 1
    singles = n - n_exact - len(texts)
    while singles > 0:
        if add([rng.choice(VOCAB) for _ in range(rng.randint(10, 100))], None):
            singles -= 1
    # exact duplicates: verbatim copies of singleton docs
    single_idx = [i for i, x in enumerate(groups) if x is None]
    copies = []
    for i in rng.sample(single_idx, n_exact):
        groups[i] = g
        copies.append((texts[i], g))
        g += 1
    for t, grp in copies:
        texts.append(t)
        groups.append(grp)
    ids = rng.sample(range(1, 50 * n), n)
    order = list(range(n))
    rng.shuffle(order)
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    group_of = {}
    for i in order:
        doc_id = ids[i]
        rows["doc_id"].append(doc_id)
        rows["text"].append(texts[i])
        rows["lang"].append(rng.choices([l for l, _ in LANGS], [w for _, w in LANGS])[0])
        rows["source"].append(f"src{rng.randint(0, 19)}")
        rows["n_chars"].append(len(texts[i]))
        if groups[i] is not None:
            group_of[doc_id] = groups[i]
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    out.mkdir(parents=True)
    pq.write_table(pa.table(rows, schema=schema), out / "documents.parquet")
    return {"docs": n, "input_bytes": (out / "documents.parquet").stat().st_size,
            "expected_after_exact": n - n_exact,
            "ids": rows["doc_id"], "group_of": group_of}


def dedup_scores(group_of, removed):
    """(recall, precision) of a removed-id set against the planted groups:
    a group of size s plants s - 1 duplicates, whichever member is kept."""
    sizes, hits = {}, {}
    for g in group_of.values():
        sizes[g] = sizes.get(g, 0) + 1
    false_pos = 0
    for d in removed:
        g = group_of.get(d)
        if g is None:
            false_pos += 1
        else:
            hits[g] = hits.get(g, 0) + 1
    planted = sum(s - 1 for s in sizes.values())
    tp = sum(min(h, sizes[g] - 1) for g, h in hits.items())
    false_pos += sum(max(0, h - (sizes[g] - 1)) for g, h in hits.items())
    recall = tp / planted if planted else 1.0
    precision = tp / (tp + false_pos) if tp + false_pos else 1.0
    return recall, precision


# ------------------------------------------------------------- lakehouse_mor

MOR = {
    "rows": 60000,        # initial table rows
    "ops": 4,             # DML generations per episode
    # op j is PLAN[j % 4]: (verb, the reads served after it). Upserts 3/4,
    # deletes 1/4; a change-feed read follows each kind of verb, and a
    # current read every verb, so both medians fall inside one kind (an
    # upsert, a current read)
    "plan": [("upsert", ("cdf", "current")), ("delete", ("cdf", "current")),
             ("upsert", ("travel", "current")), ("upsert", ("current",))],
    "travel_back": 2,     # a time-travel read goes back 2 generations
    "upsert_rows": 400,   # rows per upsert: 80% updates, 20% inserts
    "delete_keys": 150,   # keys per delete
    "move_share": 0.10,   # updates that move a key to another status
    "optimize_every": 4,  # CALL graft.optimize after every 4th DML op
}
STATUSES = [("F", 48), ("O", 48), ("P", 4)]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_SCHEMA = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                          ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                          ("o_orderpriority", pa.string()), ("version", pa.int64())])


def _order(rng, key, version):
    return {"o_orderkey": key, "o_custkey": rng.randint(1, 15000),
            "o_orderstatus": rng.choices([s for s, _ in STATUSES], [w for _, w in STATUSES])[0],
            "cents": rng.randint(90_000, 50_000_000), "o_orderpriority": rng.choice(PRIORITIES),
            "version": version}


def _write_orders(path, rows):
    cols = {c: [r[c] for r in rows] for c in ("o_orderkey", "o_custkey", "o_orderstatus",
                                               "o_orderpriority", "version")}
    cols["o_totalprice"] = [r["cents"] / 100 for r in rows]
    pq.write_table(pa.table(cols, schema=ORDER_SCHEMA), path)


def _mor_aggregate(state):
    agg = {}
    for r in state.values():
        a = agg.setdefault(r["o_orderstatus"], [0, 0, 0, 0])
        a[0] += 1
        a[1] += r["o_orderkey"]
        a[2] += r["version"]
        a[3] += r["cents"]
    return agg


def gen_mor(out: Path, seed: int, rows=None, ops=None, optimize_every=None, plan=None):
    rng = random.Random(seed)
    n0, n_ops = rows or MOR["rows"], ops or MOR["ops"]
    plan = plan or MOR["plan"]
    out.mkdir(parents=True)
    keys = rng.sample(range(1, 8 * n0), n0)
    state = {k: _order(rng, k, 1) for k in keys}
    _write_orders(out / "orders.parquet", list(state.values()))
    next_key = 8 * n0
    steps, input_bytes = [], (out / "orders.parquet").stat().st_size
    for i in range(n_ops):
        version = i + 2
        live = list(state)
        verb, reads = plan[i % len(plan)]
        if verb == "upsert":
            n_upd = int(MOR["upsert_rows"] * 0.8)
            batch = []
            for k in rng.sample(live, n_upd):
                r = dict(state[k])
                r["cents"] = rng.randint(90_000, 50_000_000)
                r["version"] = version
                if rng.random() < MOR["move_share"]:
                    r["o_orderstatus"] = rng.choice([s for s, _ in STATUSES if s != r["o_orderstatus"]])
                batch.append(r)
            for _ in range(MOR["upsert_rows"] - n_upd):
                next_key += rng.randint(1, 5)
                batch.append(_order(rng, next_key, version))
            f = out / f"op_{i:03d}_upsert.parquet"
            _write_orders(f, batch)
            input_bytes += f.stat().st_size
            cdf = {"insert": MOR["upsert_rows"] - n_upd, "update_preimage": n_upd,
                   "update_postimage": n_upd}
            for r in batch:
                state[r["o_orderkey"]] = r
            steps.append({"op": "upsert", "file": f.name, "rows": len(batch), "cdf": cdf})
        else:
            dels = sorted(rng.sample(live, MOR["delete_keys"]))
            for k in dels:
                del state[k]
            steps.append({"op": "delete", "keys": dels, "rows": len(dels),
                          "cdf": {"delete": len(dels)}})
        steps[-1]["reads"] = list(reads)
        steps[-1]["travel_to"] = max(0, i - MOR["travel_back"])
        steps[-1]["expect"] = _mor_aggregate(state)
    return {"rows": n0, "ops": steps, "input_bytes": input_bytes,
            "optimize_every": optimize_every or MOR["optimize_every"]}


GENERATORS = {"lvr_ingest": gen_lvr, "corpus_curation": gen_corpus,
              "lakehouse_mor": gen_mor}


def generate(workload: str, out: Path, seed: int, **size):
    """Write the workload's inputs under `out/input` and its answers to
    `out/expected.json`; return the answers."""
    info = GENERATORS[workload](out / "input", seed, **size)
    (out / "expected.json").write_text(json.dumps(info))
    return info
