"""Hostile inputs degrade within a budget instead of hanging a task
or exhausting memory."""

import hashlib
import json
import os
import subprocess
import sys
import time

from cryptography.hazmat.primitives import padding
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from parserpdf_spark.kernels.pdf_crypt import StreamDecryptor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_multi_mb_aes_stream_decrypts_within_budget():
    """A 4 MB AESV2 stream (IV-prefixed, PKCS#7) decrypts in under a
    second; one such stream must not hold a file-routing task for
    tens of seconds."""
    dec = StreamDecryptor("aes", hashlib.md5(b"file key").digest(), 4)
    num, gen = 12, 0
    plain = os.urandom(4 << 20)
    iv = bytes(range(16))
    padder = padding.PKCS7(128).padder()
    padded = padder.update(plain) + padder.finalize()
    enc = Cipher(
        algorithms.AES(dec._object_key(num, gen)), modes.CBC(iv)
    ).encryptor()
    payload = iv + enc.update(padded) + enc.finalize()

    t0 = time.perf_counter()
    got = dec.decrypt(num, gen, payload)
    elapsed = time.perf_counter() - t0
    assert got == plain
    assert elapsed < 1.0, f"4 MB AES stream took {elapsed:.2f} s"


# One LSH bucket holding K ids, counted by a session whose JVM heap is
# capped: building the bucket's K(K-1)/2 pairs as one array value runs
# that heap out at K = 3000 (K = 2750 still fits); emitting one row per
# id with the bucket's id list needs O(K) a row.
GIANT_BUCKET = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from parserpdf_spark.operators.dedup import _bucket_pairs
from parserpdf_spark.session import get_spark

spark = get_spark(cores=2, extra_conf={{"spark.driver.memory": "512m"}})
bucket = spark.range({k}).select("id", F.lit(0).alias("band"), F.lit(0).alias("key"))
print(json.dumps({{"pairs": _bucket_pairs(bucket, "id", "a", "b").count()}}))
spark.stop()
"""


def test_giant_lsh_bucket_streams_its_pairs_in_a_capped_heap(tmp_path):
    """A near-dup bucket of 3000 ids yields all 4,498,500 pairs in a
    512 MB heap instead of failing the task or the JVM."""
    k = 3000
    out = subprocess.run(
        [sys.executable, "-c", GIANT_BUCKET.format(repo=REPO, k=k)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {
        "pairs": k * (k - 1) // 2
    }


# The dedup operators memoize their pandas_udf objects per process
# (``functools.lru_cache``).  Stop the session and start a new one in
# the same process: the cached udfs must still run, and give the same
# pairs, in the new session.
SESSION_RESTART = """
import json, random, sys
sys.path.insert(0, {repo!r})
from parserpdf_spark.operators import dedup
from parserpdf_spark.session import get_spark

rng = random.Random(11)
texts = []
for i in range(20):
    words = [f"w{{rng.randrange(300)}}" for _ in range(40)]
    texts.append(" ".join(words))
    if i % 2 == 0:
        words[rng.randrange(40)] = "edited"
        texts.append(" ".join(words))
vecs = [[float((i * 7 + j * 3) % 11 - 5) for j in range(8)] for i in range(6)]
vecs += vecs[:2]

runs = []
for _ in range(2):
    spark = get_spark(cores=2, extra_conf={{"spark.driver.memory": "1g"}})
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    emb = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    runs.append({{
        "minhash": sorted(map(list, dedup.minhash_lsh_pairs(docs, threshold=0.8).collect())),
        "embedding": sorted(map(list, dedup.embedding_dup_pairs_bucketed(emb, threshold=0.95).collect())),
    }})
    spark.stop()
hits = dedup._mins_udf.cache_info().hits + dedup._srp_keys_udf.cache_info().hits
print(json.dumps({{"runs": runs, "cache_hits": hits}}))
"""


def test_cached_dedup_udfs_survive_a_session_restart(tmp_path):
    """MinHash and SRP-bucketed embedding dedup return the same pairs
    before and after ``spark.stop()`` and a new ``get_spark`` in one
    process, the second session reusing both cached udfs."""
    out = subprocess.run(
        [sys.executable, "-c", SESSION_RESTART.format(repo=REPO)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    first, second = got["runs"]
    assert len(first["minhash"]) == 10
    assert [a[:2] for a in first["embedding"]] == [[0, 6], [1, 7]]
    assert second == first
    assert got["cache_hits"] >= 2


def test_srp_recall_holds_for_pairs_exactly_at_the_threshold(spark, tmp_path):
    """The SRP band sizing promises each true pair at exactly the
    threshold a miss probability of at most ``SRP_TARGET_MISS``.  2000
    seeded pairs at cosine 0.95 (v = t·u + √(1−t²)·w, w ⟂ u, 64 dims)
    run through ``embedding_dup_pairs_bucketed``: the share it misses
    stays within the binomial 99.9% upper bound of that budget."""
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parserpdf_spark.operators.dedup import (
        SRP_TARGET_MISS,
        embedding_dup_pairs_bucketed,
    )

    t, n_pairs, dim = 0.95, 2000, 64
    rng = np.random.default_rng(20)
    u = rng.standard_normal((n_pairs, dim))
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    w = rng.standard_normal((n_pairs, dim))
    w -= (w * u).sum(axis=1, keepdims=True) * u
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    v = t * u + math.sqrt(1 - t * t) * w
    # pair i is (2i, 2i + 1)
    vecs = np.empty((2 * n_pairs, dim))
    vecs[0::2], vecs[1::2] = u, v
    path = str(tmp_path / "emb.parquet")
    pq.write_table(pa.table({"vec_id": np.arange(2 * n_pairs),
                             "embedding": list(vecs)}), path)

    found = embedding_dup_pairs_bucketed(spark.read.parquet(path), threshold=t)
    hits = {(r["id_a"], r["id_b"]) for r in found.collect()}
    missed = n_pairs - len(hits & {(2 * i, 2 * i + 1) for i in range(n_pairs)})

    def binom_cdf(k):
        return sum(math.comb(n_pairs, j) * SRP_TARGET_MISS ** j
                   * (1 - SRP_TARGET_MISS) ** (n_pairs - j) for j in range(k + 1))

    bound = next(k for k in range(n_pairs + 1) if binom_cdf(k) >= 0.999)
    assert missed <= bound, f"missed {missed}/{n_pairs} pairs at the threshold (bound {bound})"
