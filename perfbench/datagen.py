"""Deterministic inputs for the benchmark.

Two kinds of input are made here, both with NumPy's PCG64 generator:

- ``write_tables`` writes the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the queries read, one
  parquet file per table, with the column names and types the query
  registry expects. The content depends only on ``scale`` (a fixed data
  seed), so the expected result hashes in ``expected.json`` hold for
  every run. ``scale=0.1`` gives the row counts of the sf0.1 test data
  (600k lineitem, 100k events, 5000 documents, 2000 embeddings).
- ``write_etl_inputs`` writes the SIRENE, FANTOIR and deces source files
  and a documents table for the curation funnel. Their content depends
  on the run's ``--seed``; the function returns what a correct import
  must load (row counts and order-insensitive checksums).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(first: str, last: str, rng: np.random.Generator, n: int) -> np.ndarray:
    lo = (np.datetime64(first, "D") - _EPOCH).astype(np.int64)
    hi = (np.datetime64(last, "D") - _EPOCH).astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days * 86_400_000_000  # microseconds


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int, exact_dups: bool = False) -> pa.Table:
    """Bag-of-words texts of 10..100 words; 5% are a copy of an earlier
    document with `` dup`` appended (the near-duplicates the dedup
    queries look for), or an exact copy with ``exact_dups``."""
    lengths = rng.integers(10, 101, n)
    word_idx = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for i, k in enumerate(lengths):
        texts.append(" ".join(WORDS[j] for j in word_idx[pos : pos + k]))
        pos += k
    dup_of = rng.integers(0, n, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if dup_of[i] < i:
            texts[i] = texts[dup_of[i]] + ("" if exact_dups else " dup")
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(LANGS, rng.choice(len(LANGS), n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(1, int(150_000 * scale))
    n_supp = max(1, int(10_000 * scale))
    n_part = max(1, int(200_000 * scale))
    n_ord = max(1, int(1_500_000 * scale))
    n_line = max(1, int(6_000_000 * scale))
    n_ev = max(1, int(1_000_000 * scale))
    n_users = max(1, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(names, rng.integers(0, len(names), n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(P_TYPES, rng.integers(0, len(P_TYPES), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", rng, n_ord)),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", rng, n_line)),
    })
    start = (np.datetime64("2024-01-01", "us") - np.datetime64(0, "us")).astype(np.int64)
    month = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, month, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_tables(out_dir: Path, scale: float, names: tuple[str, ...] = TABLES) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(scale).items():
        if name in names:
            pq.write_table(table, out_dir / f"{name}.parquet")


# --- ETL inputs ------------------------------------------------------------

SIRENE_DESSIN = """\
Nom,Libellé,Longueur,Type,Ordre
siren,Numéro SIREN,9,Texte,1
denominationUniteLegale,Dénomination,120,Texte,2
dateCreationUniteLegale,Date de création,10,Date,3
anneeEffectifs,Année,4,Date,4
nombrePeriodes,Périodes,2,Numérique,5
trancheEffectifs,Tranche,2,Texte,6
"""


def checksum(values) -> str:
    """Order-insensitive checksum of a column of strings: the sum of the
    first 8 bytes of each value's md5, modulo 2**64. PostgreSQL computes
    the same number with ``pg_checksum_sql``."""
    total = 0
    for v in values:
        total += int.from_bytes(hashlib.md5(v.encode()).digest()[:8], "big", signed=True)
    return str(total % 2**64)


def pg_checksum_sql(table: str, column: str) -> str:
    m = 2**64
    return (
        f"SELECT count(*), (coalesce(sum(('x' || substr(md5({column}), 1, 16))"
        f"::bit(64)::bigint::numeric), 0) % {m} + {m}) % {m} FROM {table}"
    )


def _fantoir_line(placements: list[tuple[int, str]], length: int = 120) -> str:
    line = [" "] * length
    for start, value in placements:
        line[start - 1 : start - 1 + len(value)] = list(value)
    return "".join(line)


def write_etl_inputs(out_dir: Path, seed: int, sizes: dict[str, int]) -> dict[str, dict]:
    """Write one input per import and return, per PostgreSQL table, the
    row count and ``checksum`` of a key column a correct import loads."""
    rng = np.random.default_rng(seed)
    expect: dict[str, dict] = {}

    sirene = out_dir / "sirene"
    sirene.mkdir(parents=True)
    (sirene / "dessinstockunitelegale.csv").write_text(SIRENE_DESSIN, encoding="utf-8")
    n = sizes["sirene"]
    sirens = rng.choice(900_000_000, n, replace=False) + 100_000_000
    names = rng.integers(0, 100_000, n)
    years = rng.integers(1950, 2025, n)
    months = rng.integers(1, 13, n)
    days = rng.integers(1, 29, n)
    rows = [
        "siren,denominationUniteLegale,dateCreationUniteLegale,"
        "anneeEffectifs,nombrePeriodes,trancheEffectifs"
    ]
    rows += [
        f"{s},SOCIETE {k} ET FILS,{y}-{m:02d}-{d:02d},{y},{k % 90},{k % 12:02d}"
        for s, k, y, m, d in zip(sirens, names, years, months, days)
    ]
    with zipfile.ZipFile(sirene / "StockUniteLegale_utf8.zip", "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("StockUniteLegale_utf8.csv", "\n".join(rows) + "\n")
    expect["stock_unite_legale"] = {
        "rows": n, "column": "siren", "checksum": checksum(str(s) for s in sirens),
    }

    groups = sizes["fantoir_groups"]
    lines = [
        _fantoir_line([(1, "\x00"), (12, "PROD CENTER X"), (37, "20240101"), (45, "2024AAA")]),
        _fantoir_line([(1, "01"), (3, "0"), (12, "AIN")]),
    ]
    deps = rng.integers(1, 96, groups)
    coms = rng.integers(1, 1000, groups)
    communes, voies = [], []
    for g, (dep, com) in enumerate(zip(deps, coms)):
        commune = f"COMMUNE {g}"
        voie = f"DES CHAMPS {g}"
        communes.append(commune)
        voies.append(voie)
        lines.append(_fantoir_line([
            (1, f"{dep:02d}"), (3, "0"), (4, f"{com:03d}"), (11, "W"),
            (12, commune), (43, "N"), (46, "3"), (53, f"{g % 9_999_999:07d}"),
            (60, "0000000"), (67, "0000000"), (75, "0000000"), (82, "1987001"),
        ]))
        lines.append(_fantoir_line([
            (1, f"{dep:02d}"), (3, "0"), (4, f"{com:03d}"), (7, f"A{g % 999:03d}"),
            (11, "W"), (12, "RUE"), (16, voie), (43, "N"), (46, "3"), (49, "0"),
            (60, "0000000"), (67, "0000000"), (75, "0000000"), (82, "2001351"),
            (104, f"{g % 99_999:05d}"), (109, "2"), (113, "CHAMPS"),
        ]))
    lines.append("9999999999" + " " * 60)
    (out_dir / "fantoir.txt").write_text("\n".join(lines) + "\n", encoding="latin-1")
    expect["commune"] = {"rows": groups, "column": "libelle_commune", "checksum": checksum(communes)}
    expect["voie"] = {"rows": groups, "column": "libelle_voie", "checksum": checksum(voies)}

    n = sizes["deces"]
    noms = [f"NOM{k}" for k in rng.integers(0, 1_000_000, n)]
    firsts = rng.integers(0, 89, n)
    seconds = rng.integers(0, 7, n)
    births = rng.integers(0, 36_500, n)
    with open(out_dir / "deces.txt", "w", encoding="utf-8") as fh:
        for k, (nom, f, s, b) in enumerate(zip(noms, firsts, seconds, births)):
            born = dt.date(1920, 1, 1) + dt.timedelta(days=int(b))
            fh.write(
                f"{nom}*PRENOM{f} SECOND{s}/".ljust(80)
                + str(1 + k % 2)
                + born.strftime("%Y%m%d")
                + f"{k % 95_999:05d}"
                + f"VILLE {k % 997}".ljust(30)
                + "FRANCE".ljust(30)
                + f"20{k % 25:02d}0{1 + k % 9}15"
                + "75056"
                + str(k % 999_999).ljust(9)
                + "\n"
            )
    expect["deces"] = {"rows": n, "column": "nom", "checksum": checksum(noms)}

    docs = _documents(rng, sizes["curate_docs"], exact_dups=True)
    pq.write_table(docs, out_dir / "curate_docs.parquet")
    expect["curate_docs"] = {
        "rows": docs.num_rows, "distinct_texts": len(set(docs.column("text").to_pylist())),
    }
    return expect
