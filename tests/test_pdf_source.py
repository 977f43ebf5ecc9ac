"""PDF source tests: real (minimal, spec-conformant) PDFs are generated
in-test and round-tripped through the pure-Python minipdf extractor — the
decode path is exercised for real, not faked. PyMuPDF, when present, takes
over transparently (same schema)."""

from __future__ import annotations

import contextlib
import math
import os
import re
import zlib

import pytest

from rpa_etl_spark.sources import minipdf
from rpa_etl_spark.sources import pdf as P


make_pdf = minipdf.write_pdf  # promoted into the package (round 4)


# ---------------------------------------------------------------------------
# minipdf unit tests (no Spark)
# ---------------------------------------------------------------------------


def test_minipdf_roundtrip_compressed():
    pdf = make_pdf([["NOTA FISCAL DE SERVICOS", "Valor Total: R$ 4.450,00"]])
    text, pages = minipdf.extract_text(pdf)
    assert text == "NOTA FISCAL DE SERVICOS\nValor Total: R$ 4.450,00"
    assert pages == 1


def test_minipdf_roundtrip_uncompressed_multipage():
    pdf = make_pdf([["pagina um"], ["pagina dois", "linha 2"]], compress=False)
    text, pages = minipdf.extract_text(pdf)
    assert text.split("\n") == ["pagina um", "pagina dois", "linha 2"]
    assert pages == 2


def test_minipdf_escapes_and_specials():
    pdf = make_pdf([["parens (aninhados) ok", "barra \\ final", "50% off"]])
    text, _ = minipdf.extract_text(pdf)
    assert "parens (aninhados) ok" in text
    assert "barra \\ final" in text
    assert "50% off" in text


def test_minipdf_writer_escapes_control_chars():
    """A caller passing control characters inside one logical line must get
    them back verbatim: esc() emits the PDF \\n/\\r/\\t escape sequences, so
    the extractor's Td/T* newline collapse can't merge a raw embedded
    newline with the line-break markers."""
    pdf = make_pdf([["linha com\nquebra embutida", "tab\tcol", "cr\rfim"]])
    text, _ = minipdf.extract_text(pdf)
    assert "linha com\nquebra embutida" in text
    assert "tab\tcol" in text
    assert "cr\rfim" in text


def test_minipdf_hex_and_tj_array():
    # hand-built content stream: hex string + TJ array with kerning gap
    stream = b"BT /F1 12 Tf <48656C6C6F> Tj T* [(Wor) -200 (ld)] TJ ET"
    data = zlib.compress(stream)
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
        b"2 0 obj\n<< /Length "
        + str(len(data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + data
        + b"\nendstream\nendobj\n"
    )
    text, pages = minipdf.extract_text(body)
    assert text == "Hello\nWor ld"
    assert pages == 1


def test_minipdf_octal_escape():
    assert minipdf._unescape_literal(rb"\101\102 \61") == b"AB 1"


def test_minipdf_malformed_never_raises():
    for junk in (b"", b"%PDF-1.4\ngarbage", b"\x00" * 64, b"%PDF" + b"(" * 100):
        text, pages = minipdf.extract_text(junk)
        assert text == "" and pages == 1
    # broken deflate data in a declared-Flate stream → skipped, no raise
    bad = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 4 /Filter /FlateDecode >>\n"
        b"stream\nBAD!\nendstream\nendobj\n"
    )
    assert minipdf.extract_text(bad)[0] == ""


# ---------------------------------------------------------------------------
# Spark plumbing tests (binaryFile scan → gates → mapInPandas extraction)
# ---------------------------------------------------------------------------


def test_pdf_pipeline_real_decode(spark, tmp_path):
    (tmp_path / "a.pdf").write_bytes(
        make_pdf([["conteudo do documento A", "CNPJ: 04.252.011/0001-10"]])
    )
    (tmp_path / "b.pdf").write_bytes(make_pdf([["conteudo B"]], compress=False))
    (tmp_path / "not_pdf.pdf").write_bytes(b"NOPE\nxx")  # fails magic gate
    (tmp_path / "ignored.txt").write_bytes(b"%PDF-1.4\nnot matched by glob")

    out = P.pdf_pipeline(spark, str(tmp_path)).collect()
    assert len(out) == 2  # magic-gate filtered the fake, glob filtered .txt
    by_name = {r["path"].split("/")[-1]: r for r in out}
    assert (
        by_name["a.pdf"]["text"]
        == "conteudo do documento A\nCNPJ: 04.252.011/0001-10"
    )
    assert by_name["a.pdf"]["extraction_method"] in ("minipdf", "pymupdf")
    assert by_name["a.pdf"]["page_count"] == 1
    assert by_name["b.pdf"]["text"] == "conteudo B"
    assert by_name["a.pdf"]["has_unicode_issues"] is False


def test_pdf_extracted_text_feeds_invoice_parser(spark, tmp_path):
    """End-to-end: generated invoice PDF → binary scan → minipdf decode →
    the B1-B5 parser lands issuer CNPJ and total (the reference's S1→B5
    path, robot/pdf_reader.py → parser.py, on a real file)."""
    from pyspark.sql import functions as F

    from rpa_etl_spark.functions import parsing as PR

    (tmp_path / "nfse.pdf").write_bytes(
        make_pdf(
            [
                [
                    "NOTA FISCAL DE SERVICOS ELETRONICA",
                    "EMISSÃO: 15/12/2024 10:30:00",
                    "PRESTADOR DE SERVIÇOS",
                    "CNPJ: 04.252.011/0001-10",
                    "EMPRESA ALFA COMERCIO LTDA",
                    "VALOR TOTAL DA NOTA",
                    "R$ 4.450,00",
                ]
            ]
        )
    )
    docs = P.pdf_pipeline(spark, str(tmp_path))
    parsed = PR.parse_invoices(docs.select("path", "text"))
    row = parsed.select(
        F.col("issuer")["cnpj_cpf"].alias("cnpj"), "total", "emission_date"
    ).collect()[0]
    assert row["cnpj"] == "04.252.011/0001-10"
    assert row["total"] == "4.450,00"
    assert row["emission_date"] == "15/12/2024 10:30:00"


def test_pdf_size_gate(spark, tmp_path):
    (tmp_path / "big.pdf").write_bytes(make_pdf([["x"]]) + b"%" * 2000)
    df = P.read_pdf_files(spark, str(tmp_path))
    assert P.validate_pdf_ingress(df, max_bytes=50).count() == 0
    assert P.validate_pdf_ingress(df, max_bytes=10_000).count() == 1


# ---------------------------------------------------------------------------
# scan packing: read_pdf_files sizes the binaryFile scan by real bytes
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    """~40 KB-sized invoices, one non-PDF and one oversized file."""
    d = tmp_path_factory.mktemp("small_corpus")
    for i in range(40):
        (d / f"{i}.pdf").write_bytes(
            make_pdf([["NOTA FISCAL", f"DOC {i}", f"TOTAL: R$ {i},00"]],
                     compress=i % 2 == 0)
        )
    (d / "fake.pdf").write_bytes(b"NOPE " * 10)
    (d / "big.pdf").write_bytes(make_pdf([["big"]]) + b"%" * 4000)
    return str(d)


def _raw_scan(spark, path):
    """The scan as Spark plans it on its own (no packing)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .option("recursiveFileLookup", "true")
        .load(path)
    )


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_small_corpus_packs_to_one_task_per_core(spark, small_corpus):
    cores = spark.sparkContext.defaultParallelism
    # a 64 MB open cost makes Spark's own split rule plan ~2 files per
    # task even for 42 files, so the packing has something to undo
    with _conf(spark, "spark.sql.files.openCostInBytes", str(64 << 20)):
        assert _raw_scan(spark, small_corpus).rdd.getNumPartitions() > cores
        assert P.read_pdf_files(spark, small_corpus).rdd.getNumPartitions() <= cores


def test_packing_keeps_the_per_task_byte_cap(spark, small_corpus):
    scan_bytes = sum(
        os.path.getsize(os.path.join(small_corpus, f))
        for f in os.listdir(small_corpus)
    )
    cap = 2048
    with _conf(spark, "spark.sql.files.maxPartitionBytes", str(cap)):
        n = P.read_pdf_files(spark, small_corpus).rdd.getNumPartitions()
    assert n >= math.ceil(scan_bytes / cap) > spark.sparkContext.defaultParallelism


def test_size_gate_pushes_into_the_scan_below_the_coalesce(spark, small_corpus):
    """The ``length <= max_bytes`` gate prunes in the file scan, so an
    oversized file's content is never decoded; packing must not lift the
    filter above the coalesce."""
    df = P.validate_pdf_ingress(P.read_pdf_files(spark, small_corpus), max_bytes=3000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(length,3000\)", plan)
    assert pushed, plan
    assert plan.index("Coalesce") < pushed.start(), plan
    assert df.count() == 40  # the fake fails the magic gate, big the size gate


def test_packed_pipeline_returns_the_unpacked_rows(spark, small_corpus):
    packed = P.pdf_pipeline(spark, small_corpus).collect()
    unpacked = P.extract_pdf_text(
        P.validate_pdf_ingress(_raw_scan(spark, small_corpus))
    ).collect()
    assert len(packed) == 41
    assert sorted(map(tuple, packed)) == sorted(map(tuple, unpacked))


def test_pdf_corpus_invariants_for_declared_query(sf_dir):
    """q_pdf_extract's writer encodes page text as latin-1 and its oracle
    mirrors an ASCII whitespace-collapse; both assumptions must hold for
    the corpus or the driver comparison silently diverges. Pin them here
    so a fixture change fails THIS test loudly instead."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    for (text,) in rows:
        prefix = text[:64]
        # latin-1 encodable (write_pdf literal strings are latin-1)
        prefix.encode("latin-1")
        # Python's \s on str is unicode-aware while DuckDB RE2's is ASCII;
        # the kernel/oracle collapse stays equivalent only while the
        # prefix has no non-ASCII whitespace
        assert not any(
            ch.isspace() and ch not in " \t\n\r\f\v" for ch in prefix
        ), f"non-ASCII whitespace in doc prefix: {prefix!r}"


def test_q_pdf_extract_handles_messy_prefixes(spark):
    """Newline runs / leading-trailing whitespace in the first 64 chars
    must round-trip the write→gate→extract chain to the same value the
    analytic oracle form predicts (collapse + trim, empty folds away)."""
    import pandas as pd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "line one\n\nline two\n",
                    "   leading and trailing   ",
                    " \n \n ",  # collapses to empty -> page dropped
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in P.extract_pdf_text(
            P.validate_pdf_ingress(P.synth_invoice_pdfs(docs)),
            force_minipdf=True,
        )
        .withColumn(
            "doc_id", F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("long")
        )
        .collect()
    }
    assert out[1]["text"].endswith("\nline one line two")
    assert out[2]["text"].endswith("\nleading and trailing")
    assert out[3]["text"].endswith("TOTAL: R$ 1.500,03")  # no trailing page
    assert all(r["page_count"] == 2 for r in out.values())


# ---------------------------------------------------------------------------
# property-based: arbitrary printable-latin-1 pages round-trip the writer →
# extractor pair (beyond the fixed fixtures above)
# ---------------------------------------------------------------------------

hypothesis = pytest.importorskip("hypothesis")
if True:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # printable latin-1 minus control chars; lines must be non-empty after
    # the extractor's newline normalization, so strip() != ""
    _line = (
        st.text(
            alphabet=st.characters(
                min_codepoint=0x20, max_codepoint=0xFF, exclude_characters="\x7f"
            ),
            min_size=1,
            max_size=60,
        )
        .map(str.strip)
        .filter(lambda s: s != "")
    )
    _page = st.lists(_line, min_size=1, max_size=6)

    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(pages=st.lists(_page, min_size=1, max_size=4), compress=st.booleans())
    def test_write_pdf_extract_text_roundtrip_property(pages, compress):
        pdf = minipdf.write_pdf(pages, compress=compress)
        text, n_pages = minipdf.extract_text(pdf)
        expected = "\n".join("\n".join(lines) for lines in pages)
        assert text == expected
        assert n_pages == len(pages)

