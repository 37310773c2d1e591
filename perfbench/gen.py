"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and writes into a caller-
chosen directory; the same seed gives byte-identical inputs. Each returns
the expected values the result checks compare against (duplicate counts,
blank counts, row counts), so the checks never re-derive them from the
program's own output.

- ``write_dirty_csvs``: the reference's three dirty CSVs (``produtos``,
  ``vendas``, ``empregados``; sep ``;``) following the FIXTURES.md §4 dirt
  recipe: ~2.5% duplicate fact PKs, ~5-7% duplicate dimension PKs as
  full-row copies, ~10% blank dates, ~7.5% blank unit values (totals blank
  on the same rows), ~10% blank dimension names/categories/cargos/ages,
  dense FK domains.
- ``write_star_tables``: the TPC-H-ish star schema the analytics read
  (region, nation, customer, supplier, part, orders, lineitem), same column
  names, types and value domains as the repository's test data.
- ``write_corpus``: ``documents`` and ``embeddings`` with a stated
  near-duplicate share: that share of documents are copies of an earlier
  document with a few word edits, and that share of embeddings are an
  earlier vector plus small noise.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIAS = ("Roupas", "Eletrônicos", "Livros", "Casa", "Beleza")
CARGOS = ("Vendedor", "Gerente", "Assistente")


def _dup_rows(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Row order with ``round(n * share)`` full-row copies inserted right
    after their originals (reference fixtures keep copies adjacent)."""
    n_dup = int(round(n * share))
    dup_of = np.sort(rng.choice(n, size=n_dup, replace=False))
    order = np.concatenate([np.arange(n), dup_of])
    return order[np.argsort(order, kind="stable")]


def _blank(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=int(round(n * share)), replace=False)] = True
    return mask


def _fmt_money(v: np.ndarray) -> np.ndarray:
    return np.char.mod("%.2f", v)


def _write_csv(path: str, header: list[str], cols: list[np.ndarray]) -> int:
    body = cols[0].astype(str)
    for c in cols[1:]:
        body = np.char.add(np.char.add(body, ";"), c.astype(str))
    text = ";".join(header) + "\n" + "\n".join(body.tolist()) + "\n"
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return os.path.getsize(path)


def write_dirty_csvs(
    out_dir: str,
    seed: int,
    *,
    n_vendas: int,
    n_produtos: int = 200,
    n_empregados: int = 100,
) -> dict:
    """Write ``produtos.csv``, ``vendas.csv``, ``empregados.csv``; return
    paths, byte sizes and the expected counts for the §4 invariants."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    exp: dict = {"paths": {}, "bytes": {}}

    # --- produtos: 6% dup PKs, ~10% blank nome/categoria, ~14% blank preco
    pid = np.arange(1, n_produtos + 1)
    cat = np.array(CATEGORIAS)[rng.integers(0, len(CATEGORIAS), n_produtos)]
    preco = np.round(rng.uniform(5, 500, n_produtos), 2)
    p_blank_nome = _blank(rng, n_produtos, 0.08)
    p_blank_cat = _blank(rng, n_produtos, 0.07)
    p_blank_preco = _blank(rng, n_produtos, 0.14)
    nome = np.char.add("Produto ", pid.astype(str))
    order = _dup_rows(rng, n_produtos, 0.05)
    path = os.path.join(out_dir, "produtos.csv")
    exp["bytes"]["produtos"] = _write_csv(
        path,
        ["id_produto", "nome", "preco", "categoria"],
        [
            pid[order],
            np.where(p_blank_nome, "", nome)[order],
            np.where(p_blank_preco, "", _fmt_money(preco))[order],
            np.where(p_blank_cat, "", cat)[order],
        ],
    )
    exp["paths"]["produtos"] = path
    exp["produtos"] = {
        "raw_rows": int(order.size),
        "dups": int(order.size - n_produtos),
        "clean_rows": n_produtos,
        "blank_preco": int(p_blank_preco.sum()),
    }

    # --- empregados: 8% dup PKs, ~10% blank nome/cargo/idade, 3% of the
    # present ages outside [18, 70] so the clamp has work to do
    eid = np.arange(1, n_empregados + 1)
    cargo = np.array(CARGOS)[rng.integers(0, len(CARGOS), n_empregados)]
    idade = rng.integers(18, 71, n_empregados).astype(float)
    out_of_range = _blank(rng, n_empregados, 0.03)
    idade[out_of_range] = rng.choice([14.0, 16.0, 75.0, 82.0], out_of_range.sum())
    e_blank_nome = _blank(rng, n_empregados, 0.10)
    e_blank_cargo = _blank(rng, n_empregados, 0.10)
    e_blank_idade = _blank(rng, n_empregados, 0.10) & ~out_of_range
    order = _dup_rows(rng, n_empregados, 0.08)
    path = os.path.join(out_dir, "empregados.csv")
    exp["bytes"]["empregados"] = _write_csv(
        path,
        ["id_empregado", "nome", "cargo", "idade"],
        [
            eid[order],
            np.where(e_blank_nome, "", np.char.add("Empregado ", eid.astype(str)))[order],
            np.where(e_blank_cargo, "", cargo)[order],
            np.where(e_blank_idade, "", np.char.mod("%.1f", idade))[order],
        ],
    )
    exp["paths"]["empregados"] = path
    exp["empregados"] = {
        "raw_rows": int(order.size),
        "dups": int(order.size - n_empregados),
        "clean_rows": n_empregados,
        "blank_idade": int(e_blank_idade.sum()),
        "out_of_range_idade": int(out_of_range.sum()),
    }

    # --- vendas: 2.5% dup PKs, 10% blank dates, 7.5% blank unit+total;
    # FKs dense over produtos/empregados so every join resolves
    vid = np.arange(1, n_vendas + 1)
    day0 = dt.date(2023, 1, 1).toordinal()
    days = rng.integers(0, 730, n_vendas) + day0
    data = np.array(
        [dt.date.fromordinal(int(d)).strftime("%d/%m/%Y") for d in range(day0, day0 + 730)]
    )[days - day0]
    vprod = rng.integers(1, n_produtos + 1, n_vendas)
    vemp = rng.integers(1, n_empregados + 1, n_vendas)
    qty = rng.integers(1, 11, n_vendas)
    unit = np.round(preco[vprod - 1] * rng.uniform(0.9, 1.1, n_vendas), 2)
    total = np.round(qty * unit, 2)
    v_blank_data = _blank(rng, n_vendas, 0.10)
    v_blank_unit = _blank(rng, n_vendas, 0.075)
    order = _dup_rows(rng, n_vendas, 0.025)
    path = os.path.join(out_dir, "vendas.csv")
    exp["bytes"]["vendas"] = _write_csv(
        path,
        [
            "id_venda", "data", "id_produto", "id_empregado",
            "quantidade", "valor_unitario", "valor_total",
        ],
        [
            vid[order],
            np.where(v_blank_data, "", data)[order],
            vprod[order],
            vemp[order],
            qty[order],
            np.where(v_blank_unit, "", _fmt_money(unit))[order],
            np.where(v_blank_unit, "", _fmt_money(total))[order],
        ],
    )
    exp["paths"]["vendas"] = path
    exp["vendas"] = {
        "raw_rows": int(order.size),
        "dups": int(order.size - n_vendas),
        "clean_rows": n_vendas,
        "blank_data": int(v_blank_data.sum()),
        "blank_unit": int(v_blank_unit.sum()),
        "blank_unit_ids": vid[v_blank_unit].tolist(),
    }
    return exp


# ---------------------------------------------------------------------------
# TPC-H-ish star schema
# ---------------------------------------------------------------------------

def _ts_days(start: dt.date, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def _write(table: pa.Table, out_dir: str, name: str) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return table.num_rows


_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def write_star_tables(out_dir: str, seed: int, *, sf: float) -> dict[str, int]:
    """Write the seven star-schema tables at scale ``sf`` (sf=1 ≈ 6M
    lineitem rows); return row counts per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    rows: dict[str, int] = {}

    rows["region"] = _write(
        pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        out_dir, "region",
    )
    nk = np.arange(25)
    rows["nation"] = _write(
        pa.table({
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array(nk % 5, pa.int32()),
        }),
        out_dir, "nation",
    )
    ck = np.arange(n_cust)
    rows["customer"] = _write(
        pa.table({
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": pa.array(np.char.mod("Customer#%09d", ck)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        out_dir, "customer",
    )
    sk = np.arange(n_supp)
    rows["supplier"] = _write(
        pa.table({
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": pa.array(np.char.mod("Supplier#%09d", sk)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }),
        out_dir, "supplier",
    )
    pk = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.array(_ADJ)[rng.integers(0, len(_ADJ), n_part)], " "),
        np.array(_NOUN)[rng.integers(0, len(_NOUN), n_part)],
    )
    rows["part"] = _write(
        pa.table({
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(names),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(np.array(_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2)),
        }),
        out_dir, "part",
    )
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    rows["orders"] = _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
            "o_orderdate": _ts_days(dt.date(1995, 1, 1), odays),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }),
        out_dir, "orders",
    )
    lo = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    lp = rng.integers(0, n_part, n_line)
    price = np.round(qty * (900 + (lp % 1000) / 10.0) * rng.uniform(0.02, 2.33, n_line), 2)
    rows["lineitem"] = _write(
        pa.table({
            "l_orderkey": pa.array(lo, pa.int64()),
            "l_partkey": pa.array(lp, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts_days(dt.date(1995, 1, 2), odays[lo] + rng.integers(1, 122, n_line)),
        }),
        out_dir, "lineitem",
    )
    return rows


# ---------------------------------------------------------------------------
# Corpus: documents + embeddings with a stated near-duplicate share
# ---------------------------------------------------------------------------

BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
#: Seeded words beyond the base 31, and the embedding width (the test
#: data's embeddings are 64-d).
VOCAB_SIZE = 5000
DIM = 64


def _vocabulary(rng: np.random.Generator, size: int) -> tuple[np.ndarray, np.ndarray]:
    """The test-data corpus's 31 words as the most frequent ranks, then
    ``size`` seeded 3-9 letter words; Zipf(1) rank probabilities, the
    long tail real text has."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    extra = {"".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))]) for _ in range(size)}
    words = np.array(BASE_WORDS + sorted(extra - set(BASE_WORDS)))
    p = 1.0 / np.arange(1, len(words) + 1)
    return words, p / p.sum()


def write_corpus(
    out_dir: str,
    seed: int,
    *,
    n_docs: int,
    n_vectors: int,
    near_dup_share: float,
) -> dict[str, int]:
    """Write ``documents`` and ``embeddings``; return row and planted
    near-duplicate counts.

    Documents are 10-100 words drawn from a Zipf vocabulary (see
    ``_vocabulary``). A planted near-duplicate document copies an earlier
    document and replaces 1-3 of its words; a planted near-duplicate vector is an
    earlier vector plus N(0, 0.01) noise, re-normalized."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    vocab, p = _vocabulary(rng, VOCAB_SIZE)
    texts: list[str] = []
    dup_docs = _blank(rng, n_docs, near_dup_share)
    dup_docs[0] = False
    for i in range(n_docs):
        if dup_docs[i]:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=int(rng.integers(1, 4)), replace=False):
                words[j] = vocab[rng.choice(len(vocab), p=p)]
        else:
            words = vocab[rng.choice(len(vocab), int(rng.integers(10, 101)), p=p)].tolist()
        texts.append(" ".join(words))
    lang = np.array(_LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array(np.char.add("src", (np.arange(n_docs) % 20).astype(str))),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        out_dir, "documents",
    )

    labels = rng.integers(0, 10, n_vectors)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vectors, DIM))
    dup_vecs = _blank(rng, n_vectors, near_dup_share)
    dup_vecs[0] = False
    for i in np.flatnonzero(dup_vecs):
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] / np.linalg.norm(vecs[src]) + rng.normal(0, 0.01, DIM)
        labels[i] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        out_dir, "embeddings",
    )
    return {
        "documents": n_docs,
        "embeddings": n_vectors,
        "near_dup_documents": int(dup_docs.sum()),
        "near_dup_embeddings": int(dup_vecs.sum()),
    }
