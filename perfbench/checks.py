"""Output checks. Every answer is computed from an independent source
(DuckDB over the same input files, or pandas over the files the CLI
wrote), never from the engine's own output."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import pandas as pd

from tests.oracle_util import canon_frame


def canon(pdf: pd.DataFrame) -> dict:
    """The ``compare_frames`` canonical form: sorted column names and
    the sorted rows of per-cell strings."""
    return {"columns": sorted(pdf.columns), "rows": [list(r) for r in canon_frame(pdf)]}


def compare(got: dict, expected: dict) -> list[str]:
    if got["columns"] != expected["columns"]:
        return [f"columns differ: got={got['columns']} oracle={expected['columns']}"]
    if len(got["rows"]) != len(expected["rows"]):
        return [f"row count differs: got={len(got['rows'])} oracle={len(expected['rows'])}"]
    bad = [(a, b) for a, b in zip(got["rows"], expected["rows"]) if a != b]
    if bad:
        return [f"values differ in {len(bad)} rows; first: {bad[0]}"]
    return []


def oracle_answers(names: list[str], sf_dir: str, digest: str, cache_dir: str) -> dict[str, dict]:
    """DuckDB answer per query, cached per (input contents, oracle SQL)."""
    import duckdb

    from flight_delay_prediction_using_pyspark_spark.plans import ORACLES

    os.makedirs(cache_dir, exist_ok=True)
    answers, con = {}, None
    try:
        for name in names:
            sql = ORACLES[name]
            key = hashlib.sha256(f"{digest}\n{duckdb.__version__}\n{sql}".encode()).hexdigest()[:20]
            path = os.path.join(cache_dir, f"oracle-{name}-{key}.json")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    for t in sorted(os.listdir(sf_dir)):
                        src = os.path.join(sf_dir, t)
                        if os.path.isdir(src):
                            src = os.path.join(src, "*.parquet")
                        con.execute(
                            f"CREATE VIEW {t.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{src}')"
                        )
                answer = canon(con.execute(sql).fetchdf())
                with open(path + ".part", "w") as f:
                    json.dump(answer, f)
                os.replace(path + ".part", path)
            with open(path) as f:
                answers[name] = json.load(f)
    finally:
        if con is not None:
            con.close()
    return answers


def _label(v: float | None, threshold: float) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "on time"
    return "delayed" if v >= threshold else "early" if v <= -threshold else "on time"


def _csv_rows(path: str) -> int:
    return len(pd.read_csv(path, usecols=["prediction"]))


def check_flights(out_dir: str, result: dict, threshold: float = 10.0) -> list[str]:
    """Row counts, metrics and labels of one CLI job, recomputed from
    the files it wrote."""
    problems = []
    cols = ["ArrDelay", "prediction", "predicted_label", "actual_label"]
    for prefix, count_key in (("predictions", "validation_rows"), ("test_predictions", "test_rows")):
        pq_path = os.path.join(out_dir, f"{prefix}.parquet")
        csv_path = os.path.join(out_dir, f"{prefix}.csv")
        if not glob.glob(os.path.join(pq_path, "*.parquet")) or not os.path.exists(csv_path):
            problems.append(f"{prefix}: missing output")
            continue
        pdf = pd.read_parquet(pq_path, columns=cols)
        counts = (result.get(count_key), len(pdf), _csv_rows(csv_path))
        if len(set(counts)) != 1 or not counts[1]:
            problems.append(f"{prefix}: row counts disagree (reported, parquet, csv) = {counts}")
        for col, src in (("predicted_label", "prediction"), ("actual_label", "ArrDelay")):
            want = [_label(v, threshold) for v in pdf[src].astype("float64").tolist()]
            wrong = sum(a != b for a, b in zip(pdf[col].tolist(), want))
            if wrong:
                problems.append(f"{prefix}: {wrong} rows break the ±{threshold:g} rule in {col}")
        if prefix == "predictions":
            err = (pdf["ArrDelay"].astype("float64") - pdf["prediction"]).dropna()
            mae, rmse = float(err.abs().mean()), float(math.sqrt((err * err).mean()))
            for key, val in (("mae", mae), ("rmse", rmse)):
                if not math.isclose(result.get(key, math.nan), val, rel_tol=1e-9):
                    problems.append(f"{key}: reported {result.get(key)} but recomputed {val}")
    return problems


def check_repeatable(result: dict, path: str) -> list[str]:
    """Same inputs, same model: mae/rmse must repeat bit for bit."""
    got = {k: result.get(k) for k in ("mae", "rmse")}
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        return [] if want == got else [f"metrics differ from an earlier run: {got} vs {want}"]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".part", "w") as f:
        json.dump(got, f)
    os.replace(path + ".part", path)
    return []


def perturbed_is_rejected(got: dict, expected: dict | None = None, out_dir: str | None = None) -> bool:
    """The checker must fail a deliberately wrong result: one changed
    cell of a catalog answer, or a CLI mae nudged by one part in 1e6."""
    if out_dir is not None:
        bad = dict(got, mae=got["mae"] * (1 + 1e-6))
        return bool(check_flights(out_dir, bad))
    rows = [list(r) for r in got["rows"]] or [["<extra>"] * len(got["columns"])]
    if got["rows"]:
        rows[0][0] = rows[0][0] + "~"
    return bool(compare({"columns": got["columns"], "rows": rows}, expected))
