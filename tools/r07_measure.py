"""Round-7 optimization measurement harness (guide §1).

Times individual declared queries with EXACTLY bench.py's methodology
(same session config, same consume() aggregate, best-of-N, clearCache
between queries) so numbers are comparable to the driver's bench, and
optionally isolates computation with the noop sink (guide §1.4) and
snapshots `.explain("formatted")` per query into plans/r07/.

Usage:
  python tools/r07_measure.py q1 q2 ...            # time named queries
  python tools/r07_measure.py --all                # whole suite
  python tools/r07_measure.py --plans before q1 …  # also dump plans/r07/<q>_before.txt
  python tools/r07_measure.py --noop q1 …          # noop-sink isolation instead of consume()
  SPARK_GRAFT_SF_DIR=... overrides the data dir (default sf0.1)
  SPARK_GRAFT_CPUS=N sets local[N] (default: the usable CPUs)
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default: every CPU this process may run on (bench.py's make_spark
# pins local[CPUS]); SPARK_GRAFT_CPUS overrides
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def main():
    args = [a for a in sys.argv[1:]]
    plans_suffix = None
    use_noop = False
    repeat = 2
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans":
            plans_suffix = args[i + 1]
            i += 2
        elif a == "--noop":
            use_noop = True
            i += 1
        elif a == "--repeat":
            repeat = int(args[i + 1])
            i += 2
        elif a == "--all":
            names = "ALL"
            i += 1
        else:
            names.append(a)
            i += 1

    from bench import make_spark
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    spark = make_spark(CPUS, "r07-measure")
    spark.sparkContext.setLogLevel("ERROR")

    def consume(df):
        df.agg(F.sum(F.length(F.to_json(F.struct("*")))).alias("consumed")).collect()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    sink = noop if use_noop else consume

    # same warmup as bench.run_query_suite
    consume(spark.range(1000).withColumn("x", F.col("id") * 2).repartition(8))

    qs = entry.queries()
    if names == "ALL":
        names = list(qs)
    timings = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"r07:{name}")
        if plans_suffix:
            os.makedirs("plans/r07", exist_ok=True)
            df = fn(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"plans/r07/{name}_{plans_suffix}.txt", "w") as f:
                f.write(txt)
            spark.catalog.clearCache()
        best = None
        for _ in range(repeat):
            t0 = time.time()
            sink(fn(spark, SF_DIR))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
    print(json.dumps(timings))
    spark.stop()


if __name__ == "__main__":
    main()
