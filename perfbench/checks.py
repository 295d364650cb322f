"""Untimed correctness checks: what each workload's outputs must be, and how they are compared."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

GRAPH_TABLES = ("nodes", "identifiers", "facts", "sources", "edges")


# ---------------------------------------------------------------- build
def precision_recall(run_dir: str, n_pages: int, seed: int) -> tuple[float, float]:
    """Emitted triples against ``datagen.generate_expected``, with the
    matching rule of ``tests/test_pipeline.py::_pr``: a triple matches an
    expected row on url and subject when its predicate is one of the row's
    ``pred_alts`` and its object name and type match one of ``obj_alts``
    (type ``*`` matches any type)."""
    from nous_spark.datagen import gen_row

    men = pq.read_table(os.path.join(run_dir, "mentions"), columns=["url", "mention_rank", "entity_key"])
    subj = {
        u: k
        for u, r, k in zip(*(men.column(c).to_pylist() for c in ("url", "mention_rank", "entity_key")))
        if r == 0
    }
    tri = pq.read_table(
        os.path.join(run_dir, "triples"), columns=["source_url", "pred", "fact_type", "fact_name"]
    )
    emitted = {
        (u, subj[u], p, f"{t}:{n}")
        for u, p, t, n in zip(*(tri.column(c).to_pylist() for c in tri.column_names))
        if u in subj
    }
    alts: dict[tuple[str, str], list[tuple[set[str], list[tuple[str, str]]]]] = {}
    n_expected = 0
    for i in range(n_pages):
        for row in gen_row(i, seed)[1]:
            n_expected += 1
            objs = [tuple(o.split(":", 1)) for o in row["obj_alts"].split("|")]
            alts.setdefault((row["url"], row["subj"]), []).append(
                (set(row["pred_alts"].split("|")), objs)
            )
    tp = 0
    for url, s, pred, obj in emitted:
        otype, oname = obj.split(":", 1)
        if any(
            pred in preds and any(n == oname and t in ("*", otype) for t, n in objs)
            for preds, objs in alts.get((url, s), [])
        ):
            tp += 1
    return tp / max(len(emitted), 1), tp / max(n_expected, 1)


def content_hashes(spark, base: str, names: dict[str, str]) -> dict[str, int]:
    """Order-insensitive content hash per table: ``bit_xor(xxhash64(...))``
    over the JSON of each row's columns in name order."""
    from pyspark.sql import functions as F

    out = {}
    for name, sub in names.items():
        df = spark.read.parquet(os.path.join(base, sub))
        row = F.to_json(F.struct(*sorted(df.columns)))
        out[name] = df.select(F.bit_xor(F.xxhash64(row)).alias("h")).first()["h"]
    return out


# ---------------------------------------------------------------- recall
def lookup_identifier(i: int, seed: int) -> tuple[str, str, set[tuple[str, str]]]:
    """(id_type, id_value, expected {(pred, "Type:Name")}) for page ``i``,
    which must be a combo-bio page of a persona of its own: those pages
    use an ``email:`` identity line (golden replicas use ``username:``)
    and their expected facts are exact, one alternative each."""
    from nous_spark.datagen import gen_row

    if not is_lookup_page(i):
        raise ValueError(f"page {i} is not a combo-bio page of its own persona")
    expected = gen_row(i, seed)[1]
    id_type, id_value = expected[0]["subj"].split(":", 1)
    return id_type, id_value, {(e["pred_alts"], e["obj_alts"]) for e in expected}


def is_lookup_page(i: int) -> bool:
    """Combo-bio page (kind 4..7) whose persona is not one of the hot ones."""
    return 4 <= i % 10 <= 7 and i % 5 != 0


def recall(spark, graph_dir: str, edges: str, facts: str, id_type: str, id_value: str) -> set:
    """``entity_facts(find_entity_by_identifier(...))`` on a graph directory."""
    from nous_spark.graph import entity_facts, find_entity_by_identifier
    from nous_spark.io import read_table

    e = read_table(spark, os.path.join(graph_dir, edges))
    f = read_table(spark, os.path.join(graph_dir, facts))
    rows = entity_facts(e, f, find_entity_by_identifier(e, id_type, id_value)).collect()
    return {(r["pred"], f"{r['fact_type']}:{r['name']}") for r in rows}


# ---------------------------------------------------------------- query
def _canon(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else f"{val:.6f}"
    return str(val)


def rows_equal(spark_pdf, duck_pdf) -> bool:
    """The order-insensitive comparison of ``tests/test_oracle_parity.py``."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns) or len(spark_pdf) != len(duck_pdf):
        return False

    def rows(pdf):
        cols = sorted(pdf.columns)
        return sorted("|".join(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False))

    return rows(spark_pdf) == rows(duck_pdf)
