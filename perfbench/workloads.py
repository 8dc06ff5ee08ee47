"""The benchmark workloads. Each has an untimed `prepare()`, a timed
`run_pass(ctx, tracer)`, an untimed `check(result, full)` that returns
the correctness failures of that pass, and an untimed `done(result)`.
FlagshipLong also has `layers()`, which the traced run uses to call each
layer's public function on its own under its own span.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from audiopro_essentia_spark import oracle
from audiopro_essentia_spark.constants import ALL_FRAME_FEATURES
from audiopro_essentia_spark.operators.aggregates import doc_profile_fused
from audiopro_essentia_spark.operators.asof import asof_join
from audiopro_essentia_spark.operators.fused import fused_frame_features, nest_frequency_bands
from audiopro_essentia_spark.plans.pipeline import analyze_sequences
from audiopro_essentia_spark.sources.sequences import read_sequences
from audiopro_essentia_spark.sources.sinks import CheckpointedWriter

N_BUCKETS = 16


def noop(df) -> None:
    """Compute every column of `df` and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _content_hash(df) -> tuple:
    """Order-insensitive (row count, sum of row hashes) of a DataFrame."""
    r = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(20,0)"))
    ).first()
    return int(r[0]), str(r[1])


def _uncommit(out_dir: str, buckets) -> None:
    """Turn a complete writer directory back into a partial one missing
    `buckets`: what a run killed before committing them leaves behind."""
    for b in buckets:
        os.remove(os.path.join(out_dir, "_lineage", f"commit_{b}.json"))
        shutil.rmtree(os.path.join(out_dir, "data", f"bucket={b}"), ignore_errors=True)
    os.remove(os.path.join(out_dir, "_SUCCESS.json"))


class FlagshipLong:
    """Long docs, every feature: the FFT kernel and the Arrow transfer of
    the token arrays do most of the work. One pass is analyze_sequences
    into the checkpointed writer, then the as-of label join of the
    committed frames, then a parquet write."""

    n_sample = 2  # docs checked against the numpy oracle
    # a pass is short, so a run takes the median of three; host hiccups of
    # a second or two are common on a shared 4-core machine
    min_warm = 3

    def __init__(self, spark, inputs: str, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seq_path = os.path.join(inputs, "sequences.parquet")
        self.labels_path = os.path.join(inputs, "labels.parquet")
        meta = pq.read_table(self.seq_path, columns=["doc_id", "n_tok"])
        n_tok = meta["n_tok"].to_numpy()
        self.tokens = int(n_tok.sum())
        self.expected_rows = int(sum(oracle.n_frames(int(n)) for n in n_tok))
        rng = np.random.default_rng(seed)
        self.sample = sorted(rng.choice(meta["doc_id"].to_pylist(), self.n_sample, replace=False))
        # the buckets a resume finds uncommitted
        self.missing = sorted(int(b) for b in rng.choice(N_BUCKETS, 4, replace=False))
        self.passes = 0

    def tokens_per_s(self, wall: float, _res) -> float:
        return self.tokens / wall

    def prepare(self) -> str:
        self.passes += 1
        return _fresh(os.path.join(self.work, f"out{self.passes}"))

    def run_pass(self, out_dir: str, tr) -> dict:
        spark = self.spark
        final = out_dir + ".joined"
        with tr.span("pass"):
            with tr.span("pass.pipeline"):
                res = analyze_sequences(
                    spark, self.seq_path, out_dir=out_dir, n_buckets=N_BUCKETS, fmt="parquet"
                )
            with tr.span("pass.asof"):
                frames = CheckpointedWriter(out_dir, n_buckets=N_BUCKETS).read(spark)
                labels = spark.read.parquet(self.labels_path)
                joined = asof_join(frames, labels, left_ts="available_ts", right_ts="label_ts")
                joined.write.mode("overwrite").parquet(_fresh(final))
        return {"out_dir": out_dir, "final": final, "stats": res["write_stats"]}

    def done(self, res: dict) -> None:
        """Drop a checked pass's output (the last one is kept for layers)."""
        shutil.rmtree(res["out_dir"], ignore_errors=True)
        shutil.rmtree(res["final"], ignore_errors=True)

    # -- checks -------------------------------------------------------------

    def check(self, res: dict, full: bool) -> list[str]:
        st = res["stats"]
        writer = CheckpointedWriter(res["out_dir"], n_buckets=N_BUCKETS)
        errs = []
        if writer.committed_buckets() != set(range(N_BUCKETS)):
            errs.append(f"uncommitted buckets: {sorted(set(range(N_BUCKETS)) - writer.committed_buckets())}")
        if st["completion_ratio"] != 1.0:
            errs.append(f"completion_ratio {st['completion_ratio']}")
        rows = sum(r["row_count"] for r in writer.lineage())
        if rows != self.expected_rows:
            errs.append(f"committed rows {rows} != expected {self.expected_rows}")
        if full:
            errs += self._check_output(res)
        return errs

    def _check_output(self, res: dict) -> list[str]:
        spark = self.spark
        frames = CheckpointedWriter(res["out_dir"], n_buckets=N_BUCKETS).read(spark)
        errs = []
        dup = frames.groupBy("doc_id", "frame_idx").count().filter("count > 1").limit(1).count()
        if dup:
            errs.append("(doc_id, frame_idx) is not unique")
        got = (
            frames.filter(F.col("doc_id").isin(self.sample))
            .withColumn("avail_us", F.unix_micros("available_ts"))
            .collect()
        )
        seqs = pq.read_table(self.seq_path, filters=[("doc_id", "in", self.sample)])
        seqs = seqs.set_column(4, "base_ts", seqs["base_ts"].cast("int64")).to_pylist()
        errs += self._check_oracle(got, seqs)

        labels = pq.read_table(self.labels_path, filters=[("doc_id", "in", self.sample)]).to_pandas()
        joined = (
            spark.read.parquet(res["final"])
            .filter(F.col("doc_id").isin(self.sample))
            .select("doc_id", "frame_idx", F.unix_micros("available_ts").alias("avail"),
                    "label", F.unix_micros(F.col("matched_ts").cast("timestamp")).alias("matched"))
            .toPandas()
        )
        errs += self._check_asof(joined, labels)
        return errs

    def _check_oracle(self, rows, seqs) -> list[str]:
        """Sampled docs' frames against oracle.py (tolerances as in
        tests/test_fused.py)."""
        got = {(r.doc_id, r.frame_idx): r for r in rows}
        errs = []
        n_expected = 0
        for doc in seqs:
            for i, w in enumerate(oracle.frame_windows(np.asarray(doc["tokens"], dtype=np.int32))):
                n_expected += 1
                row = got.get((doc["doc_id"], i))
                exp = oracle.frame_features(w)
                if row is None or exp is None:
                    errs.append(f"{doc['doc_id']} frame {i}: missing row or zero spectrum")
                    continue
                if row.avail_us - doc["base_ts"] != oracle.frame_available_offset_us(i):
                    errs.append(f"{doc['doc_id']} frame {i}: available_ts")
                for k in ALL_FRAME_FEATURES:
                    if k == "frequency_bands":
                        fb = row.frequency_bands.asDict()
                        ok = all(np.allclose(fb[b], v, rtol=1e-5, atol=1e-8) for b, v in exp[k].items())
                    else:
                        rtol, atol = (1e-3, 1e-6) if k == "chroma" else (1e-5, 1e-8)
                        ok = np.allclose(getattr(row, k), exp[k], rtol=rtol, atol=atol)
                    if not ok:
                        errs.append(f"{doc['doc_id']} frame {i}: {k} differs from oracle")
        if len(got) != n_expected:
            errs.append(f"sampled docs: {len(got)} frames written, oracle frames {n_expected}")
        return errs[:5]

    @staticmethod
    def _check_asof(joined: pd.DataFrame, labels: pd.DataFrame) -> list[str]:
        """Sampled docs' as-of matches against pandas.merge_asof."""
        labels = labels.assign(lts=labels["label_ts"].astype("datetime64[us]").astype("int64"))
        errs = []
        for doc, left in joined.groupby("doc_id"):
            right = labels[labels.doc_id == doc].sort_values("lts")
            exp = pd.merge_asof(
                left.sort_values("avail")[["frame_idx", "avail"]],
                right[["lts", "label"]], left_on="avail", right_on="lts", direction="backward",
            ).set_index("frame_idx").sort_index()
            got = left.set_index("frame_idx").sort_index()
            if not (np.array_equal(got["label"].to_numpy(), exp["label"].to_numpy(), equal_nan=True)
                    and np.array_equal(got["matched"].astype("float64").to_numpy(),
                                       exp["lts"].astype("float64").to_numpy(), equal_nan=True)):
                errs.append(f"{doc}: as-of matches differ from merge_asof")
        return errs

    # -- traced run: each layer on its own -----------------------------------

    def layers(self, tr, res: dict) -> dict:
        spark = self.spark
        with tr.span("pipeline.build"):
            lazy = analyze_sequences(spark, self.seq_path)
        with tr.span("pipeline.plan"):
            lazy["frame_features"]._jdf.queryExecution().executedPlan()
        with tr.span("sequences"):
            noop(read_sequences(spark, self.seq_path))
        with tr.span("doc_profile"):
            noop(doc_profile_fused(read_sequences(spark, self.seq_path)))
        with tr.span("frame_features"):
            noop(nest_frequency_bands(fused_frame_features(
                read_sequences(spark, self.seq_path), validate=True)))
        frames = CheckpointedWriter(res["out_dir"], n_buckets=N_BUCKETS).read(spark)
        labels = spark.read.parquet(self.labels_path)
        with tr.span("asof"):
            noop(asof_join(frames, labels, left_ts="available_ts", right_ts="label_ts"))
        src = frames.drop("bucket")
        out = _fresh(os.path.join(self.work, "sink"))
        with tr.span("sinks.write"):
            stats = CheckpointedWriter(out, n_buckets=N_BUCKETS).write(src, error_col="ferror")
        data = os.path.join(out, "data")
        sizes = [os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(data)
                 for f in fs if not f.startswith((".", "_"))]
        _uncommit(out, self.missing)
        with tr.span("sinks.resume"):
            CheckpointedWriter(out, n_buckets=N_BUCKETS).write(src, error_col="ferror")

        # a resume of the whole pipeline: the traced pass's output with 4
        # of 16 buckets uncommitted (the seed picks which), as a killed run
        # leaves it; exactly-once means the content of the full write
        full = _content_hash(frames)
        _uncommit(res["out_dir"], self.missing)
        with tr.span("resume"):
            resumed = analyze_sequences(
                spark, self.seq_path, out_dir=res["out_dir"], n_buckets=N_BUCKETS, fmt="parquet"
            )["write_stats"]
        after = _content_hash(CheckpointedWriter(res["out_dir"], n_buckets=N_BUCKETS).read(spark))
        return {
            "rows_in": stats["total_rows"] + labels.count(),
            "files_written": len(sizes),
            "bytes_written": sum(sizes),
            "resume_rows": resumed["total_rows"],
            "errors": [] if after == full else [f"content after resume {after} != full write {full}"],
        }


class QueryMix:
    """`__spark_entry__.queries()` entries in a fixed order over the
    generated tier, each collected. Every pass's rows are compared with the
    entry's DuckDB twin. Its tokens_per_s is the token throughput of the
    entries that read the document text: the words of `documents.text`,
    once per such entry, over those entries' summed time."""

    # 12 of the 15 entries first planned; minhash_lsh, leak_split and
    # bigram_surprisal were left out so that every run fits the time the
    # benchmark may take
    NAMES = ("kl_drift", "simhash", "containment", "bm25", "curate", "rolling",
             "session_tempo", "asof_join", "semantic_dedup", "vocab", "bleu", "tpch_q1")
    # the entries that read documents.text
    TEXT = ("kl_drift", "simhash", "containment", "bm25", "curate", "vocab", "bleu")
    # one warm pass: a pass takes 14-20 s, and a second one per run would
    # take the benchmark's runs to about 90% of the time they may take
    min_warm = 1

    def __init__(self, spark, inputs: str, work: str, seed: int):
        import __spark_entry__ as entry

        self.spark = spark
        self.inputs = inputs
        self.queries = entry.queries()
        self.sql = entry.oracle_sql()
        self.twins: dict | None = None
        docs = pq.read_table(os.path.join(inputs, "documents.parquet"), columns=["text"])
        self.words = sum(len(t.split()) for t in docs["text"].to_pylist())

    def tokens_per_s(self, _wall: float, res: dict) -> float:
        return self.words * len(self.TEXT) / sum(res["secs"][n] for n in self.TEXT)

    def prepare(self) -> None:
        return None

    def run_pass(self, _ctx, tr) -> dict:
        rows, secs = {}, {}
        with tr.span("pass"):
            for name in self.NAMES:
                t0 = time.perf_counter()
                with tr.span(f"query.{name}"):
                    with tr.span(f"query.{name}.build"):
                        df = self.queries[name](self.spark, self.inputs)
                    if tr.enabled:
                        with tr.span(f"query.{name}.plan"):
                            df._jdf.queryExecution().executedPlan()
                    rows[name] = (df.columns, df.collect())
                secs[name] = time.perf_counter() - t0
        return {"rows": rows, "secs": secs}

    def done(self, res: dict) -> None:
        pass

    def check(self, res: dict, full: bool) -> list[str]:
        # compare_one would run each entry again; the pass already holds
        # its rows, so the same comparison runs on those
        from driver_compare import duck_con, rows_to_set, type_problems

        if self.twins is None:
            con = duck_con(self.inputs)
            self.twins = {}
            for name in self.NAMES:
                twin = con.sql(self.sql[name])
                cols = [c.lower() for c in twin.columns]
                self.twins[name] = (type_problems(twin), sorted(cols), rows_to_set(cols, twin.fetchall()))
            con.close()
        errs = []
        for name, (cols, rows) in res["rows"].items():
            tp, dcols, drows = self.twins[name]
            cols = [c.lower() for c in cols]
            if tp:
                errs.append(f"{name}: oracle dtype {tp}")
            elif sorted(cols) != dcols:
                errs.append(f"{name}: columns {sorted(cols)} != twin {dcols}")
            elif rows_to_set(cols, rows) != drows:
                errs.append(f"{name}: {len(rows)} rows differ from the DuckDB twin ({len(drows)} rows)")
        return errs


WORKLOADS = {"flagship_long": FlagshipLong, "query_mix": QueryMix}
