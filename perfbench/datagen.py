"""Seeded inputs for the benchmark: a TPC-H-shaped star schema, an events
stream, a text corpus with planted near-duplicates and an embedding table.

Every table has the column names and types the engine's contract queries
expect (``region nation customer supplier part orders lineitem events
documents embeddings``, one parquet file each). The same ``seed`` always
writes the same bytes of data; the program never sees the seed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = ("a the data row column table key value join filter sort merge "
         "group order line part customer query batch stream window hash "
         "scan spark vector agg big small fast slow dup").split()
PART_ADJ = ["cold", "small", "large", "shiny", "plain", "bright"]
PART_NOUN = ["widget", "gadget", "bolt", "panel", "gear", "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000


def seeded(seed: int, stream: int = 0) -> np.random.Generator:
    """The generator for ``seed`` (any integer, negative too); ``stream``
    picks an independent sequence for the same seed."""
    return np.random.default_rng([abs(seed), int(seed < 0), stream])


def _write(directory: Path, name: str, table: pa.Table) -> None:
    pq.write_table(table, directory / f"{name}.parquet")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _even(rng, k: int, n: int) -> np.ndarray:
    """0..k-1, each about n/k times, in seeded order: keeps the rows a
    filter or join selects the same for every seed."""
    return rng.permutation(np.arange(n) % k)


def _days(rng, n, span_days, start=EPOCH_1995):
    return start + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem/events at a
    TPC-H-like scale factor (sf 0.01 = 1,500 customers, 15,000 orders)."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.asarray(SEGMENTS, dtype=object)[
            _even(rng, len(SEGMENTS), n_cust)].tolist()})
    # supplier balances stay above 1000 so no faked Latitude (|x| <= 90)
    # can spell a source value: the anonymisation check stays exact
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, 1000.0, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 50, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 50, n_part), pa.int32()),
        "p_retailprice": _money(rng, n_part, 900.0, 2000.0)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(_even(rng, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, 2404)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord).tolist()})
    lines_per = _even(rng, 7, n_ord) + 1
    n_line = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord), lines_per)
    l_num = np.arange(n_line) - np.repeat(np.cumsum(lines_per) - lines_per,
                                          lines_per) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line).tolist(),
        "l_linestatus": _pick(rng, ["F", "O"], n_line).tolist(),
        "l_shipdate": pa.array(_days(rng, n_line, 2500))})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.sort(
            rng.integers(0, 30 * DAY_US, n_evt)).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1000, n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt).tolist(),
        "value": _money(rng, n_evt, 0.0, 500.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    return t


def corpus_tables(rng: np.random.Generator, n_docs: int,
                  n_emb: int) -> dict[str, pa.Table]:
    """documents + embeddings. One doc in six is a near-copy of an earlier
    one (a few words swapped, sometimes extended), so MinHash-LSH,
    keep-best and the duplicated-span gate all have real work; one
    vector in eight is a jittered copy of an earlier one, so SemDeDup
    drops some."""
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 1 / 6:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            if rng.random() < 0.5:
                words += [WORDS[k] for k in rng.integers(0, len(WORDS), 5)]
        else:
            n_words = int(rng.integers(8, 100))
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), n_words)]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    for i in range(10, n_emb):
        if rng.random() < 1 / 8:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.3, 64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 4
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return {"documents": docs, "embeddings": emb}


def write_source(directory: Path, seed: int, sf: float, n_docs: int,
                 n_emb: int) -> Path:
    """Write all ten tables under ``directory`` and return it."""
    directory.mkdir(parents=True, exist_ok=True)
    rng = seeded(seed)
    for name, table in {**star_tables(rng, sf),
                        **corpus_tables(rng, n_docs, n_emb)}.items():
        _write(directory, name, table)
    return directory


# --------------------------------------------------------------------------
# CDC source: a versioned copy of orders, changed one window at a time
# --------------------------------------------------------------------------

class VersionedOrders:
    """A copy of ``orders`` with ``version`` and ``deleted`` columns,
    stored as a parquet directory that grows one file per window.

    ``version`` is the number of the window that last changed the key (a
    change sequence, so it rises across keys too). Each
    :meth:`next_window` bumps the version of ``bump_share`` of the live
    keys (with a new price) and tombstones ``tomb_share`` of them,
    appending only the changed rows — the shape of a change log that
    ``steal_cdc`` reads back through its watermark."""

    def __init__(self, directory: Path, orders: pa.Table, seed: int,
                 bump_share: float = 0.05, tomb_share: float = 0.0025):
        self.path = directory / "orders.parquet"
        self.path.mkdir(parents=True, exist_ok=True)
        self.rng = seeded(seed, stream=1)
        self.bump_share = bump_share
        self.tomb_share = tomb_share
        n = orders.num_rows
        self.current = orders.append_column(
            "version", pa.array(np.zeros(n, np.int64))).append_column(
            "deleted", pa.array(np.zeros(n, bool)))
        self.windows = 0
        pq.write_table(self.current, self.path / "w00000.parquet")

    def next_window(self) -> int:
        """Append one window of changes; return the number of changed keys."""
        cur = self.current
        live = np.flatnonzero(~cur["deleted"].to_numpy(zero_copy_only=False))
        n_bump = max(1, int(len(live) * self.bump_share))
        n_tomb = max(1, int(len(live) * self.tomb_share))
        picked = self.rng.choice(live, n_bump + n_tomb, replace=False)
        version = cur["version"].to_numpy().copy()
        deleted = cur["deleted"].to_numpy(zero_copy_only=False).copy()
        price = cur["o_totalprice"].to_numpy().copy()
        self.windows += 1
        version[picked] = self.windows
        deleted[picked[n_bump:]] = True
        price[picked[:n_bump]] = np.round(
            self.rng.uniform(1000.0, 500_000.0, n_bump), 2)
        cols = {name: cur[name] for name in cur.column_names}
        cols.update(version=pa.array(version), deleted=pa.array(deleted),
                    o_totalprice=pa.array(price))
        self.current = pa.table(cols)
        changed = self.current.take(pa.array(np.sort(picked)))
        pq.write_table(changed, self.path / f"w{self.windows:05d}.parquet")
        return len(picked)

    def latest(self) -> pa.Table:
        """The live rows after the last window (tombstones dropped)."""
        keep = ~self.current["deleted"].to_numpy(zero_copy_only=False)
        return self.current.filter(pa.array(keep))

