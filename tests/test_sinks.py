"""Deterministic-sink tests (reference precedent:
tests/corpus/test_artifacts_determinism.py — byte-identical rebuilds)."""

from __future__ import annotations

import hashlib

from earcrawler_spark.sinks import read_jsonl, write_sorted_jsonl, write_sorted_turtle


def test_sorted_jsonl_byte_identical_rebuilds(spark, tmp_path, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(100)
    m1 = write_sorted_jsonl(docs, str(tmp_path / "a"), ["doc_id"])
    m2 = write_sorted_jsonl(
        docs.repartition(7), str(tmp_path / "b"), ["doc_id"]
    )  # different physical layout, same bytes
    b1 = (tmp_path / "a" / "records.jsonl").read_bytes()
    b2 = (tmp_path / "b" / "records.jsonl").read_bytes()
    assert b1 == b2
    assert m1["files"]["records.jsonl"]["sha256"] == hashlib.sha256(b1).hexdigest()
    assert m1 == m2
    # checksums file matches manifest
    chk = (tmp_path / "a" / "checksums.sha256").read_text().split()[0]
    assert chk == m1["files"]["records.jsonl"]["sha256"]


def test_jsonl_roundtrip(spark, tmp_path, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(50)
    write_sorted_jsonl(docs, str(tmp_path / "rt"), ["doc_id"])
    back = read_jsonl(spark, str(tmp_path / "rt"))
    assert back.count() == 50
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }


def test_sorted_turtle(spark, tmp_path):
    triples = spark.createDataFrame(
        [
            ("https://ear.example/b", "https://ear.example/p", "lit2"),
            ("https://ear.example/a", "https://ear.example/p", "https://ear.example/x"),
        ],
        "s string, p string, o string",
    )
    path = str(tmp_path / "g.ttl")
    n = write_sorted_turtle(triples, path)
    lines = open(path).read().splitlines()
    assert n == 2
    assert lines[0].startswith("@prefix")
    body = [l for l in lines if l.endswith(" .") and not l.startswith("@prefix")]
    assert body == sorted(body)
    assert '<https://ear.example/b> <https://ear.example/p> "lit2" .' in body
    assert "<https://ear.example/a> <https://ear.example/p> <https://ear.example/x> ." in body
