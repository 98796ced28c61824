"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed and size: the same
arguments give byte-identical files, a different seed gives different
ones. Nothing here starts Spark; the files are written with pyarrow
and plain text so the engine receives only generated inputs.

- ``write_tpch``: the ten parquet tables the registry queries read
  (TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column names, types and value ranges the
  registry's plans and DuckDB oracles expect.
- ``write_etl``: the reference ETL's raw sources (EPG day CSVs, the
  genres CSV, a toplist page and a tracker page per run day) plus the
  ground truth each ``run_once`` report must equal.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a the big small fast slow data table row column key value part line "
    "order customer join hash scan filter group agg sort merge window batch "
    "stream spark query vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
_EPOCH_ORDERS = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")


def _write(path: Path, columns: dict) -> None:
    # One row group per file, like the fixtures the registry was tuned on.
    pq.write_table(pa.table(columns), path, row_group_size=1 << 30)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(out: Path, sf: float, seed: int) -> None:
    """Write the ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    out.mkdir(parents=True, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out / "region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out / "nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out / "customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out / "supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out / "part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })

    odate = _EPOCH_ORDERS + rng.integers(0, _ORDER_DAYS, n_ord)
    _write(out / "orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    # 1-7 lines per order, (l_orderkey, l_linenumber) unique.
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    starts = np.cumsum(per) - per
    lineno = np.arange(len(okey)) - np.repeat(starts, per) + 1
    n_li = len(okey)
    ship = odate[okey] + rng.integers(1, 122, n_li)
    _write(out / "lineitem.parquet", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]"),
    })

    ts = _EVENTS_START + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    _write(out / "events.parquet", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_evt), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    # About 5 % of documents are near-duplicates of an earlier one
    # (its text plus a " dup" suffix), so the dedup and
    # connected-components members find real clusters.
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    _write(out / "documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vec = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out / "embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


# --------------------------------------------------------------- ETL sources

EPG_FIELDS = (
    "Id;beginn;ende;dauer;sender;titel;typ;text;genre_id;fsk;language;"
    "weekday;zusatz;wdh;downloadlink;infolink;programlink"
).split(";")
_SENDERS = [
    "Pro Sieben", "Das Erste", "ZDF", "RTL", "Sat 1", "Kabel Eins", "Vox",
    "RTL Zwei", "Arte", "3 Sat", "Phoenix", "Tele 5", "Super RTL", "NDR",
    "WDR", "BR", "SWR", "HR", "MDR", "ZDF Neo",
]
# Link suffixes the Str5 classifier maps to six distinct resolutions.
_RESOLUTIONS = [
    (".mpg.HD.avi.", "HD"),
    (".mpg.HQ.avi.", "HQ"),
    (".mpg.avi.", "DIVX"),
    (".mp4.", "MP4"),
    (".HD.ac3.", "HD.AC3"),
    (".mpg.xvid.", "AVI"),
]
TOP_RATINGS = ("sehr hoch", "hoch")
N_GENRES = 20


@dataclass
class EtlTruth:
    """What ``run_once(today=day)`` must report, per run day, plus the
    (PartitionKey, RowKey) pairs the recordings and torrents stores
    must hold after that run."""

    reports: dict[str, dict] = field(default_factory=dict)
    stores: dict[str, dict] = field(default_factory=dict)


def _pk(day: dt.date) -> str:
    return day.strftime("%Y_%m_%d")


def write_etl(
    out: Path,
    seed: int,
    today: dt.date,
    rows_per_day: int,
    epg_days: int = 10,
    ticks: int = 1,
    backfill_days: int = 10,
    torrent_window_days: int = 8,
) -> EtlTruth:
    """Write the ETL's raw inputs under ``out`` and return the ground
    truth for ``run_once`` on each run day: ``today`` (the backfill),
    then ``ticks`` daily runs after it.

    Layout: ``epg/<yyyy_mm_dd>.csv`` for the ``epg_days`` days before
    ``today`` (older days of the ``backfill_days`` window have no file
    upstream, which the ETL tolerates) and for every day a later run
    ingests, ``genres.csv``, and ``toplist_<day>.html`` /
    ``tracker_<day>.html`` for every run day.
    """
    rng = np.random.default_rng([seed, 2])
    out.mkdir(parents=True, exist_ok=True)
    (out / "epg").mkdir(exist_ok=True)
    days = [today + dt.timedelta(days=d) for d in range(-epg_days, ticks)]

    genre_lines = ["Nummer;Kategorie"] + [f"{g};Genre {g}" for g in range(1, N_GENRES + 1)]
    (out / "genres.csv").write_text("\n".join(genre_lines) + "\n")

    # German rows per day, keyed by Id: (day, beginn, sender).
    german: dict[int, tuple[dt.date, dt.datetime, str]] = {}
    next_id = 100_000
    for day in days:
        # Distinct (minute, sender) slots within the day, so the J2 key
        # names exactly one recording.
        slots = rng.choice(1440 * len(_SENDERS), rows_per_day, replace=False)
        lines = [";".join(EPG_FIELDS)]
        for slot in slots:
            rid = next_id
            next_id += 1
            minute, s = divmod(int(slot), len(_SENDERS))
            sender = _SENDERS[s]
            begin = dt.datetime.combine(day, dt.time()) + dt.timedelta(minutes=minute)
            dur = int(rng.integers(5, 180))
            lang = "de" if rng.random() >= 0.1 else str(rng.choice(["en", "fr", "tr"]))
            r = {
                "Id": str(rid),
                "beginn": begin.strftime("%d.%m.%Y %H:%M:%S"),
                "ende": (begin + dt.timedelta(minutes=dur)).strftime("%d.%m.%Y %H:%M:%S"),
                "dauer": str(dur),
                "sender": sender,
                "titel": f"Sendung {rid}",
                "typ": "Film" if rng.random() < 0.5 else "Serie",
                "text": f"Beschreibung {int(rng.integers(0, 10**6))}",
                "genre_id": str(int(rng.integers(1, N_GENRES + 6))),  # some miss the dim
                "fsk": str(int(rng.choice([0, 6, 12, 16, 18]))),
                "language": lang,
                "weekday": begin.strftime("%a"),
                "zusatz": "",
                "wdh": "",
                "downloadlink": f"http://dl/{rid}",
                "infolink": f"http://info/{rid}",
                "programlink": f"http://prog/{rid}",
            }
            u = rng.random()
            if u < 0.01:
                r["dauer"] = "n/a"  # malformed long -> 0
            elif u < 0.02:
                r["genre_id"] = "x"  # malformed long -> 0 -> default genre
            lines.append(";".join(r[f] for f in EPG_FIELDS))
            if lang == "de":
                german[rid] = (day, begin, sender)
        (out / "epg" / f"{_pk(day)}.csv").write_text("\n".join(lines) + "\n")

    truth = EtlTruth()
    recordings: set[tuple[str, str]] = set()  # (PartitionKey, RowKey)
    top: set[int] = set()
    torrents: set[tuple[str, str]] = set()
    for run_day in [today + dt.timedelta(days=d) for d in range(ticks + 1)]:
        window = [run_day - dt.timedelta(days=d) for d in range(backfill_days, 0, -1)]
        written = []
        present = {pk for pk, _ in recordings}
        for day in window:
            if day in days and _pk(day) not in present:
                recordings |= {(_pk(d), str(i)) for i, (d, _, _) in german.items() if d == day}
                written.append(day)
        stored_days = {dt.datetime.strptime(pk, "%Y_%m_%d").date()
                       for pk, _ in recordings if pk != "top"}
        candidates = [i for i, (d, _, _) in german.items() if d in stored_days]

        # Toplist: a qualifying prefix of known and unknown ids, then a
        # below-threshold row (the I4 stop) and rows the stop hides.
        picks = rng.choice(candidates, min(len(candidates), max(4, rows_per_day // 20)), replace=False)
        unknown = [10**9 + int(x) for x in rng.integers(0, 10**6, 3)]
        listed = [(int(i), german[int(i)][0]) for i in picks] + [(u, run_day - dt.timedelta(days=1)) for u in unknown]
        order = rng.permutation(len(listed))
        toplist = [(listed[k][0], listed[k][1], str(rng.choice(TOP_RATINGS))) for k in order]
        hidden = [i for i in candidates if int(i) not in set(picks)][:3]
        toplist.append((int(hidden[0]), german[int(hidden[0])][0], "mittel"))
        toplist += [(int(i), german[int(i)][0], "sehr hoch") for i in hidden[1:]]
        (out / f"toplist_{_pk(run_day)}.html").write_text(_toplist_html(toplist))
        promoted = [i for i, _, _ in toplist[: len(listed)] if i in german and i not in top]
        top |= set(promoted)

        # Tracker: newest first. Most top recordings get torrents at
        # several resolutions whose file names carry the J2 key; a
        # stale row then stops the feed.
        start = run_day - dt.timedelta(days=torrent_window_days)
        rows, matched = [], set()
        for rid in sorted(top):
            day, begin, sender = german[rid]
            if day < start or rng.random() < 0.15:
                continue
            k = int(rng.integers(1, 4))
            for suffix, res in [_RESOLUTIONS[j] for j in rng.choice(len(_RESOLUTIONS), k, replace=False)]:
                rows.append((begin, sender, suffix, rid))
                matched.add((rid, res))
        rows += [(dt.datetime.combine(run_day, dt.time(12)), "Nirgendwo TV", ".mp4.", None)]
        rows.sort(key=lambda r: r[0], reverse=True)
        stale = dt.datetime.combine(start - dt.timedelta(days=1), dt.time(20, 15))
        rows.append((stale, _SENDERS[0], ".mp4.", None))
        (out / f"tracker_{_pk(run_day)}.html").write_text(_tracker_html(rows, rng))

        matched_ids = {rid for rid, _ in matched}
        dead = top - matched_ids
        torrents = {(pk, rk) for pk, rk in torrents if int(pk) not in dead}
        torrents |= {(str(rid), res) for rid, res in matched}
        top -= dead
        truth.reports[run_day.isoformat()] = {
            "epg_days_written": [d.isoformat() for d in written],
            "promoted": len(promoted),
            "torrents_saved": len(matched),
            "top_deleted": len(dead),
        }
        truth.stores[run_day.isoformat()] = {
            "recordings": sorted(recordings | {("top", str(i)) for i in top}),
            "torrents": sorted(torrents),
        }
    return truth


def _toplist_html(rows: list[tuple[int, dt.date, str]]) -> str:
    marker = '<td oncontextmenu="showNewTabMenu('
    blocks = []
    for rid, day, rating in rows:
        cells = [f'0)">c{i}</td>' for i in range(11)]
        cells[0] = f"{rid},'x')\">open</td>"
        cells[3] = f"0)\">{day.strftime('%d.%m.%y')}</td>"
        cells[7] = f"0)\" title='Beliebtheit: {rating}'>pop</td>"
        cells[9] = f"0)\"><img src=http://img/{rid}.jpg width=120></td>"
        blocks.append(f"<tr id='serchrow{rid}' class='row'>" + marker + marker.join(cells))
    return "<html><table>" + "".join(blocks) + "</table></html>"


def _tracker_html(rows, rng) -> str:
    trs = ["<tr><th>head</th><td>x</td></tr>"]
    for begin, sender, suffix, rid in rows:
        name = f"Sendung {rid if rid is not None else 0}"
        # The file name's sender token drops spaces and varies case;
        # the J2 key normalizes both sides to the same string.
        token = sender.replace(" ", "")
        token = token.upper() if rng.random() < 0.3 else token
        fname = f"{name} {begin.strftime('%y.%m.%d %H-%M')} {token} otrkey"
        link = f"http://t/{rid}_{token}{suffix}otrkey.torrent"
        trs.append(
            "<tr><td>#</td>"
            f"<td><a href='{link}'>{fname}</a></td>"
            f"<td align=center>{int(rng.integers(0, 500))}</td>"
            f"<td align=center>{int(rng.integers(0, 50))}</td>"
            f"<td align=center>{int(rng.integers(0, 5000))}</td></tr>"
        )
    return '<html><table border=1 class="bordertable">' + "".join(trs) + "</table></html>"
