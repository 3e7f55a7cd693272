"""Run suspect queries one at a time; report janino codegen failures + wall.

Codegen fallback is off, so a class that fails to compile raises (the
JVM logs ``Failed to compile`` to its own stderr, out of this process's
reach); the raised error counts as the key's failure.
"""
import os, re, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from icecube_spark.session import get_spark as get_session
import __spark_entry__ as E

SF = "/root/testdata/sf0.01"
SUSPECTS = sys.argv[1:] or [
    "embed_ann_lsh", "dedup_simhash", "dedup_minhash_lsh",
    "embed_cosine_topk", "embed_knn_label", "dedup_embedding_cosine",
]

spark = get_session()
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.sql.codegen.fallback", "false")
qs = E.queries()
for name in SUSPECTS:
    t0 = time.time()
    try:
        n = qs[name](spark, SF).count()
        errs = 0
    except Exception as exc:  # py4j or a captured SparkException
        if not re.search(r"Compiler?Exception|failed to compile", str(exc), re.I):
            raise
        n, errs = None, 1
    wall = time.time() - t0
    print(f"{name}: {wall:.2f}s rows={n} codegen_failures={errs}", flush=True)
