"""Run suspect queries one at a time; report janino codegen failures + wall."""
import io, os, sys, time, contextlib

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
qs = E.queries()
for name in SUSPECTS:
    buf = io.StringIO()
    t0 = time.time()
    with contextlib.redirect_stderr(buf):
        n = qs[name](spark, SF).count()
    wall = time.time() - t0
    errs = buf.getvalue().count("Failed to compile")
    print(f"{name}: {wall:.2f}s rows={n} codegen_failures={errs}", flush=True)
