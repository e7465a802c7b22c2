"""Benchmark inputs.

Everything the engine reads during a benchmark run is generated here.
The ten star-schema tables (tools/gen_sf.py's sizes and value domains
at sf0.01) come from a fixed seed and are the same in every run. The run's seed makes the messy pipe-delimited
transactions CSVs for the ingest pipeline and cuts the tables into the
file drops the streaming ops replay. The same seed always gives
byte-identical files.

The generator also returns what it knows about its inputs (row counts,
planted invalid rows and duplicates, the cleaned value of every kept
transaction) so the benchmark can check pipeline outputs without
running a second engine.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools import gen_sf

# the star schema's sizes and value domains are tools/gen_sf.py's, at sf0.01
COUNTS = gen_sf.counts_for(0.01)
ORDERS_EPOCH = np.datetime64(gen_sf.ORDERS_EPOCH, "us")
EVENTS_EPOCH = np.datetime64(gen_sf.EVENTS_EPOCH, "us")

# the star tables are the same for every seed: a seed changes what the
# ingest and streaming ops read, not what the queries read
TABLE_SEED = 20240101

# messy transactions CSV (the reference's 22-column raw shape)
TX_HEADER = (
    "Point_de_Vente|Numero_TPV|Numero_Transaction|Date_Transaction|Heure|"
    "Typologie_Magasin|Numero_Fidelite|Type_de_Vente|Univers_Produit|"
    "Segment_Produit|Famille_Produit|Sous_Famille_Produit|Fedas_Numero|"
    "Fedas_Libelle|Cible_Genre_Age|Modele_Couleur_Ref|Modele_Couleur_Libelle|"
    "Type_de_Vente_NPS|Quantite_Vendue|CA_Net_TTC|CA_Net_HT|Marge_Nette_Magasin"
)
TX_ROWS_PER_FILE = 1500
TX_FILES = 2  # the last one is the drift file without Numero_TPV
TX_DAYS = 59  # January and February: two month partitions in the sink
TX_INVALID_SHARE = 0.02  # below the pipeline's 5% gate
TX_DUP_SHARE = 0.03
STREAM_DROPS = 2


@dataclass
class Inputs:
    """Paths of the generated inputs and the facts the checks need."""

    root: str
    sf_dir: str
    csv_paths: list[str]
    event_drops: str
    doc_drops: str
    tx_rows_in: int = 0
    tx_invalid_rows: int = 0
    tx_expected: list[tuple] = field(default_factory=list)
    docs_in: int = 0
    docs_distinct_text: int = 0
    input_bytes: dict[str, int] = field(default_factory=dict)


def _pick(rng: np.random.Generator, options: tuple[str, ...], n: int) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _tables(rng: np.random.Generator, out: str) -> None:
    c = COUNTS
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(gen_sf.REGIONS),
        }),
        f"{out}/region.parquet",
    )
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        f"{out}/nation.parquet",
    )
    n = c["customer"]
    pq.write_table(
        pa.table({
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(-999.99 + rng.random(n) * 10999.79, 2),
            "c_mktsegment": _pick(rng, gen_sf.SEGMENTS, n),
        }),
        f"{out}/customer.parquet",
    )
    n = c["supplier"]
    pq.write_table(
        pa.table({
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(-999.99 + rng.random(n) * 10999.79, 2),
        }),
        f"{out}/supplier.parquet",
    )
    n = c["part"]
    adj, noun = _pick(rng, gen_sf.PART_ADJ, n), _pick(rng, gen_sf.PART_NOUN, n)
    names = [f"{a} {b}" for a, b in zip(adj, noun)]
    pq.write_table(
        pa.table({
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": _pick(rng, gen_sf.PTYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
        }),
        f"{out}/part.parquet",
    )
    n = c["orders"]
    days = rng.integers(0, gen_sf.ORDERS_SPAN_DAYS, n)
    odate = ORDERS_EPOCH + days.astype("timedelta64[D]")
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
            "o_orderstatus": _pick(rng, gen_sf.STATUSES, n),
            "o_totalprice": np.round(1000.0 + rng.random(n) * 499000.0, 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, gen_sf.PRIORITIES, n),
        }),
        f"{out}/orders.parquet",
    )
    # 1..7 lines per order, ~1/55 of orders without lines (testdata shape)
    n_lines = np.where(rng.integers(0, 55, n) == 0, 0, rng.integers(1, 8, n))
    okey = np.repeat(np.arange(n), n_lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in n_lines if k])
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(float)
    ship = odate[okey] + rng.integers(1, 96, m).astype("timedelta64[D]")
    order = rng.permutation(m)  # the testdata's lineitem is not clustered
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, c["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + rng.random(m) * 1200.0), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, gen_sf.RETURNFLAGS, m),
            "l_linestatus": _pick(rng, gen_sf.LINESTATUSES, m),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }).take(pa.array(order)),
        f"{out}/lineitem.parquet",
    )
    n = c["events"]
    offs = np.sort(rng.integers(0, gen_sf.EVENTS_SPAN_SECONDS * 1_000_000, n))
    pq.write_table(
        pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(EVENTS_EPOCH + offs.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, c["event_users"], n), pa.int64()),
            "event_type": _pick(rng, gen_sf.EVENT_TYPES, n),
            "value": np.round(-50.0 * np.log(np.maximum(rng.random(n), 1e-6)), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }),
        f"{out}/events.parquet",
    )
    _documents(rng, out)
    n = c["embeddings"]
    labels = rng.integers(0, gen_sf.N_LABELS, n)
    centers = rng.uniform(-1.0, 1.0, (gen_sf.N_LABELS, gen_sf.EMB_DIM))
    raw = centers[labels] + 0.35 * rng.uniform(-1.0, 1.0, (n, gen_sf.EMB_DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(unit), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        f"{out}/embeddings.parquet",
    )


def _documents(rng: np.random.Generator, out: str) -> None:
    """Word-salad corpus with planted exact (~3%) and near (~3%) dups."""
    n = COUNTS["documents"]
    texts: list[str] = []
    for k in range(n):
        r = rng.random()
        if k > 0 and r < 0.03:
            texts.append(texts[int(rng.integers(0, k))])
        elif k > 0 and r < 0.06:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            words = rng.integers(0, len(gen_sf.VOCAB), int(rng.integers(8, 98)))
            texts.append(" ".join(gen_sf.VOCAB[w] for w in words))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, gen_sf.LANGS, n),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        f"{out}/documents.parquet",
    )


def _dec(s: str | None) -> str:
    """The value the CSV cleaner stores for a money cell, as DECIMAL(18,6)."""
    return "<null>" if s is None else f"{Decimal(s.replace(',', '.')):.6f}"


def _transactions(rng: np.random.Generator, out: str, inp: Inputs) -> None:
    """Messy CSVs: null tokens, EU decimal commas, a drift file without
    Numero_TPV, in-file exact duplicates and contract-violating rows."""
    kept: dict[str, tuple] = {}
    rows_in = invalid = 0
    tid = 0
    for f in range(TX_FILES):
        drift = f == TX_FILES - 1
        header = TX_HEADER.replace("Numero_TPV|", "") if drift else TX_HEADER
        lines: list[str] = []
        for _ in range(TX_ROWS_PER_FILE):
            tid += 1
            bad = rng.random() < TX_INVALID_SHARE
            pdv = f"PDV-id-{int(rng.integers(0, 40)):04d}"
            ntid = f"TID{tid:012d}"
            if bad:  # violates the point_de_vente or numero_transaction contract
                if rng.random() < 0.5:
                    pdv = f"PDV#{int(rng.integers(0, 40))}"
                else:
                    ntid = f"T-{tid}"
            date = (dt.date(2022, 1, 1) + dt.timedelta(days=int(rng.integers(0, TX_DAYS)))).isoformat()
            qty = int(rng.integers(-2, 12))
            money = []
            for _m in range(3):
                v = f"{rng.integers(0, 100000) / 1000:.3f}"
                r = rng.random()
                money.append(None if r < 0.05 else v.replace(".", ",") if r < 0.4 else v)
            cells = [
                pdv,
                None if drift else f"TPV_{int(rng.integers(0, 30))}",
                ntid,
                date,
                f"{int(rng.integers(8, 21)):02d}:{int(rng.integers(0, 60)):02d}:00",
                f"Typologie_Magasin_{int(rng.integers(1, 5))}",
                f"N_{int(rng.integers(0, 10**6))}" if rng.random() < 0.6 else "",
                f"TV{int(rng.integers(1, 4))}",
                "CL1_1", "CL2_3", f"CL3_{int(rng.integers(1, 9))}", "CL4_2",
                f"FedasNum{int(rng.integers(0, 500))}", f"FedasLib{int(rng.integers(0, 500))}",
                f"CGA{int(rng.integers(1, 7))}",
                f"MCR{int(rng.integers(0, 2000))}", f"MCL{int(rng.integers(0, 2000))}",
                f"NPS{int(rng.integers(1, 4))}",
                str(qty),
                *["#NO VALUE" if m is None else m for m in money],
            ]
            if drift:
                cells.pop(1)
            line = "|".join(cells)
            copies = 2 if rng.random() < TX_DUP_SHARE else 1
            lines.extend([line] * copies)
            rows_in += copies
            if bad:
                invalid += copies
            else:
                kept[ntid] = (ntid, pdv, date, qty, *(_dec(m) for m in money))
        order = rng.permutation(len(lines))
        path = f"{out}/transactions_{f}.csv"
        with open(path, "w") as fh:
            fh.write(header + "\n" + "\n".join(lines[i] for i in order) + "\n")
        inp.csv_paths.append(path)
    inp.tx_rows_in = rows_in
    inp.tx_invalid_rows = invalid
    inp.tx_expected = sorted(kept.values())


def _drops(
    out: str, src: str, rng: np.random.Generator, sort_col: str, redeliver: float = 0.0
) -> None:
    """Split a table into STREAM_DROPS parquet files, one per trigger.

    Rows are cut into contiguous `sort_col` ranges at seeded boundaries,
    so no row arrives behind an earlier file's watermark. A `redeliver`
    share of each file's rows appears twice in it (at-least-once
    delivery), and each file's row order is shuffled."""
    t = pq.read_table(src).sort_by(sort_col)
    cuts = np.sort(rng.choice(np.arange(1, t.num_rows), STREAM_DROPS - 1, replace=False))
    os.makedirs(out, exist_ok=True)
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, t.num_rows])):
        idx = np.arange(b - a)
        idx = np.concatenate([idx, idx[rng.random(len(idx)) < redeliver]])
        part = t.slice(a, b - a).take(pa.array(rng.permutation(idx)))
        pq.write_table(part, f"{out}/drop_{i:03d}.parquet")


def dir_bytes(path: str) -> int:
    """Bytes under `path` (a file or a directory tree)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def generate(root: str, seed: int) -> Inputs:
    """Write every input for `seed` under `root` (which must be empty)."""
    rng = np.random.default_rng(seed)
    inp = Inputs(
        root=root,
        sf_dir=f"{root}/sf",
        csv_paths=[],
        event_drops=f"{root}/drops/events",
        doc_drops=f"{root}/drops/documents",
    )
    for d in (inp.sf_dir, f"{root}/csv"):
        os.makedirs(d)
    _tables(np.random.default_rng(TABLE_SEED), inp.sf_dir)
    _transactions(rng, f"{root}/csv", inp)
    _drops(inp.event_drops, f"{inp.sf_dir}/events.parquet", rng, "ts", redeliver=0.02)
    _drops(inp.doc_drops, f"{inp.sf_dir}/documents.parquet", rng, "doc_id")
    docs = pq.read_table(f"{inp.sf_dir}/documents.parquet", columns=["text"]).column("text")
    inp.docs_in = len(docs)
    inp.docs_distinct_text = len(set(docs.to_pylist()))
    inp.input_bytes = {
        "etl.transactions_csv": sum(dir_bytes(p) for p in inp.csv_paths),
        "etl.clean_corpus": dir_bytes(f"{inp.sf_dir}/documents.parquet"),
    }
    return inp
