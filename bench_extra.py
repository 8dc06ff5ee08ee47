"""Extra benchmark/profiling harness for optimization rounds (guide §1.4).

NOT the driver's bench (bench.py is frozen): this file isolates individual
declared queries with the noop sink, dumps `.explain("formatted")` plans to
plans/<tag>/, and (with --metrics) pulls per-node SQL metrics from the
local UI REST API so stage time can be attributed to operators.

Usage:
  python bench_extra.py [--sf DIR] [--tag r06_before] [--runs 2]
                        [--plans] [--metrics] [query ...]

Prints one compact JSON line per query: {"q": name, "secs": [..], "min": s}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = "r06"
    runs = 2
    want_plans = False
    want_metrics = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            i += 1
            sf_dir = args[i]
        elif a == "--tag":
            i += 1
            tag = args[i]
        elif a == "--runs":
            i += 1
            runs = int(args[i])
        elif a == "--plans":
            want_plans = True
        elif a == "--metrics":
            want_metrics = True
        else:
            names.append(a)
        i += 1

    from audiopro_essentia_spark.session import get_spark
    import __spark_entry__ as E

    extra = {"spark.ui.enabled": "true"} if want_metrics else None
    spark = get_spark(app_name="bench_extra", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    qs = E.queries()
    if not names:
        names = list(qs)
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    if want_plans:
        os.makedirs(plans_dir, exist_ok=True)

    results = {}
    for name in names:
        fn = qs[name]
        if want_plans:
            df = fn(spark, sf_dir)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name}: run{r}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = secs
        print(json.dumps({"q": name, "secs": secs, "min": min(secs)}),
              flush=True)

    if want_metrics:
        # pull per-query SQL-node metrics from the UI REST API
        import urllib.request

        base = None
        for port in range(4040, 4060):
            try:
                with urllib.request.urlopen(
                    f"http://localhost:{port}/api/v1/applications", timeout=2
                ) as r:
                    apps = json.load(r)
                base = f"http://localhost:{port}/api/v1/applications/{apps[0]['id']}"
                break
            except Exception:
                continue
        if base:
            with urllib.request.urlopen(f"{base}/sql?length=10000") as r:
                sqls = json.load(r)
            out = os.path.join(plans_dir if want_plans else ".",
                               f"sql_metrics_{tag}.json")
            with open(out, "w") as fh:
                json.dump(sqls, fh, indent=1)
            print(f"sql metrics -> {out}", file=sys.stderr)

    print(json.dumps({"tag": tag, "sf": sf_dir,
                      "mins": {k: min(v) for k, v in results.items()}}))


if __name__ == "__main__":
    main()
