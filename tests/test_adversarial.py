"""Hostile inputs degrade within a budget instead of hanging a task."""

import hashlib
import os
import time

from cryptography.hazmat.primitives import padding
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from parserpdf_spark.kernels.pdf_crypt import StreamDecryptor


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
