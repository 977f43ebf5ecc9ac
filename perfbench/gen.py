"""Seeded input generators for the benchmark.

Everything the engine sees is produced here from ``--seed``: an invoice PDF
corpus (written as files) and a small TPC-H-shaped table set (one parquet
per table, the schema of ``rpa_etl_spark.tables``). The expected outcomes
(pipeline verdict tallies) are computed from the generator's own knowledge
of each document, never from the engine.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- invoice corpus ---------------------------------------------------------

AUDIT_THRESHOLD_CENTS = 1_000_000  # route R1: total > R$ 10.000,00 goes to audit

# variant -> (weight, status, trust score, total present). The weights are
# an assumption of this benchmark, not measured traffic: no fixture in the
# repository gives the reference's real mix. They keep every verdict class
# and both stream encodings present in each pass.
VARIANTS = {
    "ok": (40, "success", Decimal("1.00"), True),
    "noisy": (15, "success", Decimal("1.00"), True),
    "bad_issuer": (15, "error", Decimal("0.00"), True),
    "no_recipient": (10, "partial", Decimal("0.90"), True),
    "no_total": (10, "partial", Decimal("0.50"), False),
    "reject": (10, None, None, None),  # not a PDF: the ingress gate drops it
}
_NAMES = list(VARIANTS)
_WEIGHTS = np.array([VARIANTS[v][0] for v in _NAMES], dtype=float)
_WEIGHTS /= _WEIGHTS.sum()

_ISSUERS = ["TECH SOLUTIONS INFORMATICA LTDA", "ALFA CONSULTORIA SA",
            "BETA SERVICOS DIGITAIS LTDA", "GAMA ENGENHARIA LTDA"]
_RECIPIENTS = ["COMERCIO GLOBAL SA", "INDUSTRIA NORTE LTDA",
               "MERCADO CENTRAL SA", "LOGISTICA SUL LTDA"]
_SERVICES = ["DESENVOLVIMENTO DE SISTEMA WEB", "MANUTENCAO MENSAL DE SERVIDORES",
             "SUPORTE TECNICO ESPECIALIZADO", "CONSULTORIA EM DADOS",
             "LICENCIAMENTO DE SOFTWARE", "TREINAMENTO DE EQUIPE"]


def cnpj_digits(base12: str) -> str:
    """The two mod-11 check digits of a 12-digit CNPJ base."""
    out = base12
    for weights in ([5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2],
                    [6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]):
        r = sum(int(d) * w for d, w in zip(out, weights)) % 11
        out += "0" if r < 2 else str(11 - r)
    return out[12:]


def format_cnpj(d14: str) -> str:
    return f"{d14[:2]}.{d14[2:5]}.{d14[5:8]}/{d14[8:12]}-{d14[12:]}"


def make_cnpj(rng: np.random.Generator, valid: bool) -> str:
    base = "".join(str(d) for d in rng.integers(0, 10, 8)) + "0001"
    check = cnpj_digits(base)
    if not valid:
        check = check[0] + str((int(check[1]) + 1) % 10)
    return format_cnpj(base + check)


def format_brl(cents: int) -> str:
    """12345678 -> '123.456,78' (Brazilian thousands and decimal marks)."""
    reais, c = divmod(cents, 100)
    return f"{reais:,}".replace(",", ".") + f",{c:02d}"


def invoice_lines(rng: np.random.Generator, variant: str) -> tuple[list[str], int]:
    """The text lines of one invoice and its total in cents."""
    n_items = int(rng.integers(1, 5))
    amounts = [int(a) for a in rng.integers(5_000, 900_000, n_items)]
    total = sum(amounts)
    day, month, year = int(rng.integers(1, 29)), int(rng.integers(1, 13)), 2024
    hh, mm = int(rng.integers(0, 24)), int(rng.integers(0, 60))
    emission = f"EMISSÃO: {day:02d}/{month:02d}/{year} {hh:02d}:{mm:02d}:00"
    total_line = f"R$ {format_brl(total)}"
    if variant == "noisy":
        # normalize triggers: a date glued to its time, a split decimal
        emission = f"EMISSÃO:  {day:02d}/{month:02d}/{year}{hh:02d}:{mm:02d}:00"
        reais, c = divmod(total, 100)
        total_line = f"R$ {format_brl(reais * 100)[:-3]} , {c:02d}"
    lines = ["NOTA FISCAL DE SERVICOS ELETRONICA - NFS-e", emission,
             f"COMPETÊNCIA: {month:02d}/{year}",
             "PRESTADOR DE SERVIÇOS",
             f"CNPJ: {make_cnpj(rng, valid=variant != 'bad_issuer')}",
             _ISSUERS[int(rng.integers(0, len(_ISSUERS)))],
             "AVENIDA PAULISTA 1000 SP"]
    if variant != "no_recipient":
        lines += ["TOMADOR DE SERVIÇOS", f"CNPJ: {make_cnpj(rng, valid=True)}",
                  _RECIPIENTS[int(rng.integers(0, len(_RECIPIENTS)))]]
    lines.append("DISCRIMINAÇÃO DOS SERVIÇOS")
    for a in amounts:
        svc = _SERVICES[int(rng.integers(0, len(_SERVICES)))]
        lines.append(f"{svc} R$ {format_brl(a)}")
    if variant != "no_total":
        lines += ["VALOR TOTAL DA NOTA", total_line]
    return lines, total


def expected_verdict(variant: str, total_cents: int) -> tuple[str, str, Decimal]:
    """(status, route, trust score) the reference rules give a variant."""
    _w, status, trust, has_total = VARIANTS[variant]
    if status == "error" or not has_total:
        route = "revisao_manual"
    elif total_cents > AUDIT_THRESHOLD_CENTS:
        route = "auditoria_fiscal"
    else:
        route = "processamento_normal"
    return status, route, trust


class Corpus:
    """A generated PDF corpus: the files' bytes plus the expected tallies."""

    def __init__(self, docs: list[tuple[str, bytes]], tallies: Counter,
                 trust_sum: Decimal, rejects: int):
        self.docs = docs
        self.tallies = tallies  # (status, route) -> rows
        self.trust_sum = trust_sum
        self.rejects = rejects

    def digest(self) -> str:
        h = hashlib.sha256()
        for name, content in self.docs:
            h.update(name.encode())
            h.update(hashlib.sha256(content).digest())
        return h.hexdigest()

    def write(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for name, content in self.docs:
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(content)


# sha256 of invoice_corpus(0, 64): pins the bytes minipdf.write_pdf emits for
# the corpus, so a writer change cannot silently change the workload
CANARY_SEED, CANARY_DOCS = 0, 64
CANARY_DIGEST = "78bfe3bf725b426ff08628dc22ad579cce82b863968e0844081db38cf03c4b4d"


def check_canary() -> "str | None":
    got = invoice_corpus(CANARY_SEED, CANARY_DOCS).digest()
    if got != CANARY_DIGEST:
        return f"canary corpus digest {got[:12]} != pinned {CANARY_DIGEST[:12]}: the PDF writer changed"
    return None


def invoice_corpus(seed: int, n_docs: int) -> Corpus:
    from rpa_etl_spark.sources import minipdf

    rng = np.random.default_rng([seed, 1])
    variants = rng.choice(len(_NAMES), size=n_docs, p=_WEIGHTS)
    docs, tallies, trust_sum, rejects = [], Counter(), Decimal("0.00"), 0
    for i, vi in enumerate(variants):
        variant = _NAMES[vi]
        name = f"inv_{i:06d}.pdf"
        if variant == "reject":
            docs.append((name, b"NOT A PDF " + rng.bytes(48)))
            rejects += 1
            continue
        lines, total = invoice_lines(rng, variant)
        compress = bool(rng.integers(0, 2))
        docs.append((name, minipdf.write_pdf([lines], compress=compress)))
        status, route, trust = expected_verdict(variant, total)
        tallies[(status, route)] += 1
        trust_sum += trust
    return Corpus(docs, tallies, trust_sum, rejects)


# -- relational tables ------------------------------------------------------

DAY_US = 86_400_000_000
_VOCAB = ("spark window merge table column vector stream value key group query "
          "the scan order sort hash line part batch filter customer small fast "
          "slow agg join a row data index shuffle").split()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


# rows per table; the query layer is bound by per-job overhead at this size
TABLE_ROWS = {"customer": 300, "orders": 3000, "events": 2000, "documents": 400,
              "embeddings": 400, "part": 400, "supplier": 20}


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten query tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    r = TABLE_ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(r["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
        "s_nationkey": rng.integers(0, 25, r["supplier"], dtype=np.int32),
        "s_acctbal": rng.integers(-99_999, 999_999, r["supplier"]) / 100.0})
    adj = np.array("large hot blue old cold red small new".split())
    noun = np.array("gear widget anvil plate bolt rod gizmo ring".split())
    n_part = r["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                              noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 1)})
    n_cust = r["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": rng.integers(-100_000, 1_000_000, n_cust) / 100.0,
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    n_ord = r["orders"]
    d0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    days = rng.integers(d0, d0 + 2400, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
        "o_orderdate": _ts(days * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    per = rng.poisson(4.0, n_ord)
    lkey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(lkey)
    tables["lineitem"] = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, r["supplier"], n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(d0, d0 + 2500, n_li) * DAY_US)})
    n_ev = r["events"]
    e0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(e0, e0 + 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, 60, n_ev, dtype=np.int64),
        "event_type": np.array(["signup", "click", "purchase", "error",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": rng.integers(0, 40_000, n_ev) / 100.0,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})
    n_doc = r["documents"]
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), w)])
             for w in rng.integers(10, 101, n_doc)]
    # a share of exact and near duplicates, so the dedup operators find work
    for i in range(0, n_doc, 10):
        texts[i] = texts[(i * 7 + 3) % n_doc] + (" dup" if i % 20 else "")
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "fr", "es", "de", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec = r["embeddings"]
    emb = rng.normal(size=(n_vec, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32)})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
