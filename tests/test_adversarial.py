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
