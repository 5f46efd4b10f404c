"""Output checks of the many_tables workload.

A check is {"name", "ok", "detail"}; every failed check counts in the
result's `failed`. Reference values come from the library itself, run on
the driver without Spark (`perfbench.Fit`, see fit()).
"""
import os

import numpy as np
import pyarrow.parquet as pq

INTERVAL = 7                 # ForecastCli <db> 7
REL_TOL = 1e-9


def output_name(table):
    base = table[len("bucket_"):] if table.startswith("bucket_") else table
    return "bucket_forecast_" + base


def epoch_days(column):
    return column.to_numpy().astype("datetime64[D]").astype(np.int64)


def close(a, b):
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _check(name, problems):
    return {"name": name, "ok": not problems, "detail": "; ".join(problems[:3])}


def forecast_outputs(db, layout, sampled, fit):
    """Checks of one CLI run's outputs in `db`.

    layout: {input table: [metric, ...]}; sampled: [(table, metric)] to
    compare with driver-side reference fits; fit(requests) -> rows.
    """
    present = {f[:-len(".parquet")] for f in os.listdir(db) if f.startswith("bucket_forecast_")}
    expected = {output_name(t) for t in layout}
    checks = [_check("one_output_per_input",
                     [] if present == expected else
                     [f"expected {sorted(expected)}, found {sorted(present)}"])]
    inputs = {t: pq.read_table(os.path.join(db, f"{t}.parquet")) for t in layout}
    outputs = {}
    for t, metrics in layout.items():
        name = output_name(t)
        try:
            out = pq.read_table(os.path.join(db, f"{name}.parquet"))
            outputs[t] = out
            problems = _forecast_problems(out, metrics, epoch_days(inputs[t].column("date")))
        except Exception as e:  # a missing or unreadable output fails its check
            problems = [f"{type(e).__name__}: {e}"]
        checks.append(_check(name, problems))
    reference = fit([(t, m, INTERVAL, list(zip(epoch_days(inputs[t].column("date")),
                                                inputs[t].column(m).to_numpy().astype(np.float64))))
                     for t, m in sampled])
    for t, m in sampled:
        try:
            problems = _agreement(outputs[t], m, reference.get((t, m), []))
        except Exception as e:
            problems = [f"{type(e).__name__}: {e}"]
        checks.append(_check(f"driver_fit:{t}.{m}", problems))
    return checks


def _forecast_problems(out, metrics, days):
    p = []
    cols = ["date"] + [c for m in metrics for c in (m, f"{m}_min", f"{m}_max")]
    if out.column_names != cols:
        return [f"columns {out.column_names}"]
    if str(out.schema.field("date").type) != "date32[day]":
        p.append("date is not a date")
    p += [f"{c} is {out.schema.field(c).type}" for c in cols[1:]
          if str(out.schema.field(c).type) != "double"]
    if out.num_rows != len(np.unique(days)) + INTERVAL:
        p.append(f"{out.num_rows} rows, expected {len(np.unique(days))} history + {INTERVAL}")
    for m in metrics:
        v, lo, hi = (out.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
                     for c in (m, f"{m}_min", f"{m}_max"))
        bad = ~(np.isfinite(v) & np.isfinite(lo) & np.isfinite(hi) & (lo <= v) & (v <= hi))
        if bad.any():
            p.append(f"{m}: {int(bad.sum())} rows not finite or not ordered")
    return p


def _agreement(out, m, reference):
    if not reference:
        return ["driver-side fit gave no rows"]
    p = []
    days = epoch_days(out.column("date"))
    cols = [out.column(c).to_numpy(zero_copy_only=False) for c in (m, f"{m}_min", f"{m}_max")]
    at = {d: i for i, d in enumerate(days)}
    if len(reference) != out.num_rows:
        p.append(f"driver fit has {len(reference)} rows, output {out.num_rows}")
    for day, yhat, lo, hi in reference:
        i = at.get(day)
        if i is None or not all(close(c[i], x) for c, x in zip(cols, (yhat, lo, hi))):
            p.append(f"day {day}: output differs from driver fit ({yhat}, {lo}, {hi})")
    return p[:3]


def write_requests(path, requests):
    with open(path, "w") as fh:
        for t, m, interval, pts in requests:
            body = ",".join(f"{int(d)}:{float(v)!r}" for d, v in pts if np.isfinite(v))
            fh.write(f"{t}\t{m}\t{interval}\t{body}\n")


def read_answers(path):
    """{(table, metric): [(day, yhat, lower, upper)]} from perfbench.Fit."""
    out = {}
    for line in open(path):
        f = line.rstrip("\n").split("\t")
        out.setdefault((f[0], f[1]), []).append(
            (int(f[2]), float(f[3]), float(f[4]), float(f[5])))
    return out
