"""Seeded inputs for the benchmark and the independent expected-state oracle.

Everything here is Spark-free: numpy/pandas build TPC-H-shaped tables, the
DMS landing files (headerless positional CSV, ``LOAD00000001.csv`` for the
full load and ``2YYYYMMDD-nnnnnnnnn.csv`` change files with ``op`` first),
the corpus documents and the embedding vectors. The same seed gives the same
bytes.

The oracle folds the generator's own change log with pandas (latest op per
primary key wins, ordered by file name then row in file). It never calls the
engine's merge, so a merge bug cannot hide in both sides.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np
import pandas as pd

# column kinds: long, int, double, str, date
TPCH = {
    "region": ([("r_regionkey", "int"), ("r_name", "str")], ["r_regionkey"]),
    "nation": (
        [("n_nationkey", "int"), ("n_name", "str"), ("n_regionkey", "int")],
        ["n_nationkey"],
    ),
    "customer": (
        [
            ("c_custkey", "long"),
            ("c_name", "str"),
            ("c_nationkey", "int"),
            ("c_acctbal", "double"),
            ("c_mktsegment", "str"),
        ],
        ["c_custkey"],
    ),
    "supplier": (
        [
            ("s_suppkey", "long"),
            ("s_name", "str"),
            ("s_nationkey", "int"),
            ("s_acctbal", "double"),
        ],
        ["s_suppkey"],
    ),
    "part": (
        [
            ("p_partkey", "long"),
            ("p_name", "str"),
            ("p_brand", "str"),
            ("p_type", "str"),
            ("p_size", "int"),
            ("p_retailprice", "double"),
        ],
        ["p_partkey"],
    ),
    "orders": (
        [
            ("o_orderkey", "long"),
            ("o_custkey", "long"),
            ("o_orderstatus", "str"),
            ("o_totalprice", "double"),
            ("o_orderdate", "date"),
            ("o_orderpriority", "str"),
        ],
        ["o_orderkey"],
    ),
    "lineitem": (
        [
            ("l_orderkey", "long"),
            ("l_partkey", "long"),
            ("l_suppkey", "long"),
            ("l_linenumber", "int"),
            ("l_quantity", "double"),
            ("l_extendedprice", "double"),
            ("l_discount", "double"),
            ("l_tax", "double"),
            ("l_returnflag", "str"),
            ("l_linestatus", "str"),
            ("l_shipdate", "date"),
        ],
        ["l_orderkey", "l_linenumber"],
    ),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["almond", "blush", "coral", "dodger", "ghost", "khaki", "linen",
         "misty", "navy", "orchid", "peru", "plum", "rose", "tan", "wheat"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY0 = date(1992, 1, 1)


def _dates(rng, n, lo=0, hi=2400):
    days = rng.integers(lo, hi, n)
    return [(DAY0 + timedelta(days=int(d))).isoformat() for d in days]


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _rows(kind: str, rng, keys: np.ndarray, sizes: dict) -> pd.DataFrame:
    """Fresh rows of table ``kind`` for primary keys ``keys`` (for lineitem
    ``keys`` is an (n, 2) array of (orderkey, linenumber))."""
    n = len(keys)
    if kind == "customer":
        return pd.DataFrame({
            "c_custkey": keys.astype(np.int64),
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, n, -999, 9999),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        })
    if kind == "supplier":
        return pd.DataFrame({
            "s_suppkey": keys.astype(np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, n, -999, 9999),
        })
    if kind == "part":
        return pd.DataFrame({
            "p_partkey": keys.astype(np.int64),
            "p_name": [" ".join(rng.choice(WORDS, 3)) for _ in range(n)],
            "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n, 2))],
            "p_type": rng.choice(["ECONOMY ANODIZED STEEL", "LARGE BRUSHED TIN",
                                  "PROMO PLATED COPPER", "SMALL POLISHED NICKEL",
                                  "STANDARD BURNISHED BRASS"], n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": _money(rng, n, 900, 2100),
        })
    if kind == "orders":
        return pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, sizes["customer"] + 1, n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 800, 500000),
            "o_orderdate": _dates(rng, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        })
    if kind == "lineitem":
        q = rng.integers(1, 51, n).astype(np.float64)
        return pd.DataFrame({
            "l_orderkey": keys[:, 0].astype(np.int64),
            "l_partkey": rng.integers(1, sizes["part"] + 1, n).astype(np.int64),
            "l_suppkey": rng.integers(1, sizes["supplier"] + 1, n).astype(np.int64),
            "l_linenumber": keys[:, 1].astype(np.int32),
            "l_quantity": q,
            "l_extendedprice": np.round(q * rng.uniform(900, 2100, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _dates(rng, n, 1, 2520),
        })
    raise ValueError(f"no row generator for {kind!r}")


def tpch_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
    }


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pd.DataFrame]:
    """The seven TPC-H tables at scale ``sf`` (lineitem ~4 lines/order)."""
    sizes = tpch_sizes(sf)
    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": NATIONS,
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
    }
    for t in ("customer", "supplier", "part", "orders"):
        out[t] = _rows(t, rng, np.arange(1, sizes[t] + 1), sizes)
    lines = rng.integers(1, 8, sizes["orders"])
    okeys = np.repeat(np.arange(1, sizes["orders"] + 1), lines)
    lnums = np.concatenate([np.arange(1, k + 1) for k in lines])
    out["lineitem"] = _rows("lineitem", rng, np.stack([okeys, lnums], 1), sizes)
    return out


# --------------------------------------------------------------------------
# DMS landing files
# --------------------------------------------------------------------------


def cdc_file_name(cycle: int, seq: int) -> str:
    """``2YYYYMMDD-nnnnnnnnn.csv``: name order is time order."""
    day = date(2024, 1, 1) + timedelta(days=cycle)
    return f"{day.strftime('%Y%m%d')}-{seq:09d}.csv"


def write_csv(path: str, df: pd.DataFrame) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_csv(path, header=False, index=False)


@dataclass
class TableSource:
    """One source table: its expected state (the oracle) and change maker.

    ``mutable`` lists the columns a U may change: never a primary key and
    never the declared partition column, so partitions stay PK-stable.
    """

    name: str  # db_table
    kind: str  # row shape (a TPCH key)
    state: pd.DataFrame
    mutable: list[str]
    sizes: dict
    next_key: int = 0
    log: list[tuple[str, pd.DataFrame]] = field(default_factory=list)

    @property
    def columns(self) -> list[str]:
        return [c for c, _ in TPCH[self.kind][0]]

    @property
    def pks(self) -> list[str]:
        return TPCH[self.kind][1]

    def __post_init__(self) -> None:
        self.state = self.state.reset_index(drop=True)
        self.next_key = int(self.state[self.pks[0]].max()) + 1

    def _new_keys(self, n: int) -> np.ndarray:
        k = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        if self.kind == "lineitem":
            return np.stack([k, np.ones(n, dtype=np.int64)], 1)
        return k

    def make_changes(self, rng: np.random.Generator, n: int) -> pd.DataFrame:
        """About ``n`` change rows: 20% D, 50% U, 30% I, plus the FIXTURES
        must-cover cases (several ops per key in one file, D and U on absent
        keys). Rows come back in file order with ``op`` first."""
        n_d, n_u = max(1, n // 5), max(1, n // 2)
        n_i = max(1, n - n_d - n_u)
        live = len(self.state)
        pick = rng.choice(live, size=min(live, n_d + n_u), replace=False)
        d_rows = self.state.iloc[pick[:n_d]].copy()
        u_rows = self.state.iloc[pick[n_d:]].copy()
        fresh = _rows(self.kind, rng, self._new_keys(len(u_rows)), self.sizes)
        for c in self.mutable:
            u_rows[c] = fresh[c].to_numpy()
        i_rows = _rows(self.kind, rng, self._new_keys(n_i), self.sizes)
        # D and U on keys that never existed: a no-op and an insert
        absent = _rows(self.kind, rng, self._new_keys(2), self.sizes)
        # several ops for one key in one file: an insert updated in the same
        # file, and an updated row deleted later in the same file
        upd_new = self.reupdate(rng, i_rows.iloc[:1])
        parts = [
            ("D", d_rows), ("U", u_rows), ("I", i_rows),
            ("D", absent.iloc[:1]), ("U", absent.iloc[1:]),
            ("U", upd_new.drop(columns="op")), ("D", u_rows.iloc[:1]),
        ]
        out = pd.concat(
            [p.assign(op=op)[["op", *self.columns]] for op, p in parts],
            ignore_index=True,
        )
        return out

    def reupdate(self, rng: np.random.Generator, rows: pd.DataFrame) -> pd.DataFrame:
        """U ops giving ``rows``' keys fresh values in the mutable columns."""
        out = rows.copy()
        fresh = _rows(self.kind, rng, self._new_keys(len(rows)), self.sizes)
        for c in self.mutable:
            out[c] = fresh[c].to_numpy()
        return out.assign(op="U")[["op", *self.columns]]

    def land(self, stage: str, schema: str, fname: str, changes: pd.DataFrame) -> None:
        """Write one change file and fold it into the expected state."""
        write_csv(os.path.join(stage, schema, self.name, fname), changes)
        self.log.append((fname, changes))
        self.state = fold_changes(self.state, changes, self.pks)


def fold_changes(state: pd.DataFrame, changes: pd.DataFrame, pks: list[str]) -> pd.DataFrame:
    """Latest-wins apply of ``changes`` (rows in version order) to ``state``:
    the last op per key decides; D removes the key (a no-op when absent),
    I and U set the row (U on an absent key inserts)."""
    last = changes.drop_duplicates(subset=pks, keep="last")
    key = pd.MultiIndex.from_frame(state[pks])
    touched = pd.MultiIndex.from_frame(last[pks])
    kept = state[~key.isin(touched)]
    upserts = last[last["op"] != "D"].drop(columns="op")
    return pd.concat([kept, upserts[state.columns]], ignore_index=True)


def expected_from_log(
    initial: pd.DataFrame, log: list[tuple[str, pd.DataFrame]], pks: list[str]
) -> pd.DataFrame:
    """Expected table after every file in ``log``, applied in name order."""
    ordered = [c for _, c in sorted(log, key=lambda fc: fc[0])]
    if not ordered:
        return initial.reset_index(drop=True)
    return fold_changes(initial, pd.concat(ordered, ignore_index=True), pks)


def canonical(df: pd.DataFrame, spec: list[tuple[str, str]]) -> pd.DataFrame:
    """Column order and value types normalised so that a frame read back
    from the warehouse and the oracle's frame compare cell for cell."""
    out = {}
    for c, kind in spec:
        s = df[c]
        if kind in ("long", "int"):
            out[c] = s.astype(np.int64)
        elif kind == "double":
            out[c] = s.astype(np.float64)
        elif kind == "date":
            out[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d")
        else:
            out[c] = s.astype(str)
    return pd.DataFrame(out)


def digest(df: pd.DataFrame, spec: list[tuple[str, str]]) -> str:
    """Order-insensitive content hash of a table (row count included)."""
    rows = pd.util.hash_pandas_object(canonical(df, spec), index=False).to_numpy()
    h = hashlib.sha256(np.sort(rows).tobytes())
    h.update(str(len(rows)).encode())
    return h.hexdigest()


# --------------------------------------------------------------------------
# Corpus inputs
# --------------------------------------------------------------------------

VOCAB = ["spark", "table", "merge", "stream", "scan", "sort", "join", "hash",
         "window", "query", "filter", "group", "batch", "vector", "column",
         "row", "key", "value", "order", "part", "line", "data", "customer",
         "fast", "slow", "big", "small", "agg", "index", "shard", "replica",
         "commit", "ledger", "tensor", "token", "corpus", "schema", "plan"]
STOP = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "les", "et", "est", "une", "du"],
    "es": ["el", "los", "y", "es", "una", "del"],
}
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` documents: mostly English-like, the rest other stopword sets or
    none; about 6% exact copies and 8% near copies of earlier documents."""
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.06:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 20 and r < 0.14:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        lang = str(rng.choice(LANGS))
        n_tok = int(rng.integers(8, 90))
        stop_share = rng.uniform(0.05, 0.3)
        pool = STOP.get(lang, [])
        toks = [
            str(rng.choice(pool)) if pool and rng.random() < stop_share
            else str(rng.choice(VOCAB))
            for _ in range(n_tok)
        ]
        texts.append(" ".join(toks))
        langs.append(lang)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    """``n`` float32 vectors: ``labels`` centres, each with sub-centres of
    about ten vectors, so every vector has a handful of clear neighbours."""
    centres = rng.normal(0, 1, (labels, dim))
    n_sub = max(1, n // 10)
    sub_label = rng.integers(0, labels, n_sub)
    subs = centres[sub_label] + rng.normal(0, 0.5, (n_sub, dim))
    which = rng.integers(0, n_sub, n)
    vec = (subs[which] + rng.normal(0, 0.12, (n, dim))) / np.sqrt(dim)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": sub_label[which].astype(np.int32),
    })
