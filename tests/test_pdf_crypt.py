"""PDF standard security handler (kernels/pdf_crypt.py) and its two
ciphers — the hand-written RC4 and the ``cryptography`` package's AES
behind ``aes_cbc_encrypt``/``aes_cbc_decrypt``: FIPS-197 / classic
public test vectors for the primitives, RC4 against the library's ARC4
where the library accepts the key, then encrypt→decrypt round-trips at
every handler revision, wrong-password refusal, and the ingest triage
path.

Honest limitation: the AES/RC4/MD5/SHA PRIMITIVES are pinned to
external known-answer vectors, but the R5/R6 KEY-DERIVATION composition
(_hash_2b and the /U//UE layouts) is only round-trip-tested — no
published R6 test file ships in this container, so a compositional
deviation that both sides share would pass here and surface as
real-world AES-256 files routing to 'encrypted'.  The R2-R4 MD5/RC4
composition has the same caveat, partially offset by the algorithm
being short enough to verify line-by-line against the spec text."""

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from parserpdf_spark.kernels.pdf_crypt import (  # noqa: E402
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    rc4,
)


def test_aes_fips197_vectors():
    """FIPS-197 Appendix B and C known-answer vectors (public spec),
    each as one CBC block under a zero IV (which is ECB)."""
    zero = bytes(16)

    def check(pt: bytes, key: bytes, ct_hex: str) -> None:
        ct = aes_cbc_encrypt(pt, key, iv=zero, pad=False)
        assert ct.hex() == ct_hex
        assert aes_cbc_decrypt(ct, key, iv=zero, unpad=False) == pt

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    k128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    k192 = bytes.fromhex("000102030405060708090a0b0c0d0e0f1011121314151617")
    k256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f")
    check(pt, k128, "69c4e0d86a7b0430d8cdb78070b4c55a")
    check(pt, k192, "dda97ca4864cdfe06eaf70a0ec0d7191")
    check(pt, k256, "8ea2b7ca516745bfeafc49904b496089")
    # Appendix B
    check(bytes.fromhex("3243f6a8885a308d313198a2e0370734"),
          bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c"),
          "3925841d02dc09fbdc118597196a0b32")


def test_rc4_classic_vectors():
    assert rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    assert rc4(b"Secret", b"Attack at dawn").hex().upper() == \
        "45A01F645FC35B383552544B9BF5"
    assert rc4(b"k", rc4(b"k", b"round trip")) == b"round trip"


def test_rc4_equals_library_arc4_where_it_accepts_the_key():
    """The hand-written RC4 equals ``cryptography``'s ARC4 at every key
    size both accept (the library refuses the PDF-legal 48..120-bit
    sizes in between, which is why RC4 stays hand-written)."""
    import random

    from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
    from cryptography.hazmat.primitives.ciphers import Cipher

    rng = random.Random(6229)
    for bits in (40, 56, 64, 80, 128):
        key = rng.randbytes(bits // 8)
        data = rng.randbytes(rng.randrange(1, 4096))
        lib = Cipher(ARC4(key), mode=None).encryptor().update(data)
        assert rc4(key, data) == lib, bits


def test_rc4_roundtrip_at_every_pdf_key_length():
    """PDF R2-R4 file keys run 5..16 bytes and per-object keys
    min(n + 5, 16) bytes (10..16, e.g. 13 = 104 bits for /Length 64):
    a stream encrypted under the spec's object key decrypts through
    StreamDecryptor at every file-key length."""
    import hashlib
    import struct

    from parserpdf_spark.kernels.pdf_crypt import StreamDecryptor

    data = bytes(range(256)) * 3
    num, gen = 7, 0
    for n in range(5, 17):
        file_key = bytes((7 * i + n) & 0xFF for i in range(n))
        obj_key = hashlib.md5(
            file_key + struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
        ).digest()[: min(n + 5, 16)]
        ct = rc4(obj_key, data)
        assert ct != data
        assert StreamDecryptor("rc4", file_key, 2).decrypt(num, gen, ct) == data


def test_aes_cbc_roundtrip_and_padding_gates():
    k = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes(range(16))
    for data in (b"", b"x", b"hello world " * 10):
        assert aes_cbc_decrypt(iv + aes_cbc_encrypt(data, k, iv), k) == data
    with pytest.raises(ValueError, match="block-aligned"):
        aes_cbc_decrypt(iv + b"short", k)
    with pytest.raises(ValueError, match="IV"):
        aes_cbc_decrypt(b"tiny", k)


def _plain_and_variants():
    import pandas as pd

    from make_file_fixtures import build_pdf

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    text = dict(zip(src["doc_id"].astype(int), src["text"]))[52]
    return build_pdf(52, text, compress=True)


def _spans(pdf: bytes):
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

    return [
        (s["kind"], s["text"]) for s in extract_pdf_blocks(
            [(json.dumps(b), None) for b in pdf_to_blocks(pdf)])
    ]


@pytest.mark.parametrize("variant", ["rc4", "aes", "aes256"])
def test_encrypted_pdf_decrypts_and_extracts_identically(variant):
    """RC4-128 (V2 R3), AES-128 (V4 R4 /AESV2), AES-256 (V5 R6 /AESV3):
    the encrypted file extracts the exact spans of its plaintext twin."""
    from make_file_fixtures import encrypt_pdf

    plain = _plain_and_variants()
    assert _spans(encrypt_pdf(plain, variant)) == _spans(plain)


def test_encrypted_objstm_pdf_decrypts():
    """Decryption must run BEFORE object-stream expansion (ObjStm
    payloads are themselves encrypted)."""
    import pandas as pd

    from make_file_fixtures import build_pdf, encrypt_pdf

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    text = dict(zip(src["doc_id"].astype(int), src["text"]))[52]
    plain = build_pdf(52, text, compress=True, objstm=True)
    assert _spans(encrypt_pdf(plain, "aes")) == _spans(plain)


def test_user_password_protected_stays_encrypted_status():
    from make_file_fixtures import encrypt_pdf

    from parserpdf_spark.sources.files import route_file

    plain = _plain_and_variants()
    for variant in ("rc4", "aes", "aes256"):
        locked = encrypt_pdf(plain, variant, user=b"secret-user-pw")
        row = route_file("/x/locked.pdf", locked)
        assert row["ingest_status"] == "encrypted"
        assert "password" in row["ingest_error"]


def test_committed_encrypted_fixtures():
    """The committed encrypted fixtures extract (empty user password)
    or refuse (real user password) — same statuses the golden pins."""
    from parserpdf_spark.sources.files import route_file

    fx = os.path.join(REPO, "fixtures", "files_corpus")
    with open(os.path.join(fx, "locked_4.pdf"), "rb") as fh:
        row = route_file("/x/locked_4.pdf", fh.read())
    assert row["ingest_status"] == "encrypted"
    import pandas as pd

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    docx_ids = sorted(i for i in src.doc_id.astype(int) if i % 3 == 1)
    for idx in (17, 18):  # rc4 / aes256 empty-user-password fixtures
        name = f"doc_{docx_ids[idx]}.pdf"
        with open(os.path.join(fx, name), "rb") as fh:
            row = route_file(f"/x/{name}", fh.read())
        assert row["ingest_status"] == "ok", name
        assert len(row["spans"]) > 0


def test_encrypt_pdf_reproduces_committed_fixtures():
    """The writer side, from build_corpus's own inputs, reproduces the
    committed encrypted fixtures byte for byte (fixture drift fails
    here without regenerating fixtures/)."""
    import pandas as pd

    from make_file_fixtures import FIXTURES, SF_DIR, build_pdf, encrypt_pdf

    src = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))
    docx_ids = sorted(i for i in by_id if i % 3 == 1)
    rc4_id, a256_id = docx_ids[17], docx_ids[18]
    cases = {
        f"doc_{rc4_id}.pdf": encrypt_pdf(
            build_pdf(rc4_id, by_id[rc4_id], compress=True), "rc4"),
        f"doc_{a256_id}.pdf": encrypt_pdf(
            build_pdf(a256_id, by_id[a256_id], compress=True), "aes256"),
        "locked_4.pdf": encrypt_pdf(
            build_pdf(4, by_id[docx_ids[0]], compress=True), "aes",
            user=b"secret-user-pw"),
    }
    for name, built in cases.items():
        with open(os.path.join(FIXTURES, name), "rb") as fh:
            assert built == fh.read(), name


def test_missing_cryptography_triages_encrypted(monkeypatch):
    """An executor without the ``cryptography`` package routes an
    encrypted PDF to ``encrypted`` with a reason naming the package,
    and still routes unencrypted PDFs ``ok``."""
    from parserpdf_spark.sources.files import route_file

    for name in list(sys.modules):
        if name == "cryptography" or name.startswith("cryptography."):
            monkeypatch.setitem(sys.modules, name, None)
    monkeypatch.delitem(sys.modules, "parserpdf_spark.kernels.pdf_crypt",
                        raising=False)
    fx = os.path.join(REPO, "fixtures", "files_corpus")
    with open(os.path.join(fx, "doc_55.pdf"), "rb") as fh:
        row = route_file("/x/doc_55.pdf", fh.read())
    assert row["ingest_status"] == "encrypted"
    assert "cryptography" in row["ingest_error"]
    with open(os.path.join(fx, "doc_34.pdf"), "rb") as fh:
        row = route_file("/x/doc_34.pdf", fh.read())
    assert row["ingest_status"] == "ok"
    assert len(row["spans"]) > 0


def test_malformed_encryption_dicts_stay_triage_not_crash():
    from parserpdf_spark.sources.files import route_file

    cases = [
        # non-Standard handler
        b"%PDF-1.4\n9 0 obj\n<< /Filter /MySec /V 2 >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF\n",
        # missing /O //U
        b"%PDF-1.4\n9 0 obj\n<< /Filter /Standard /V 2 /R 3 >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF\n",
        # /Encrypt pointing nowhere
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 77 0 R >>\n%%EOF\n",
    ]
    for data in cases:
        row = route_file("/x/weird.pdf", data)
        assert row["ingest_status"] == "encrypted"


def test_generation_nonzero_objects_decrypt():
    """The per-object key mixes in the generation's low 2 bytes; an
    incrementally-updated file's gen>0 stream must decrypt (review
    finding: gen was hardwired to 0)."""
    import hashlib
    import re
    import struct

    import pandas as pd

    from make_file_fixtures import build_pdf, encrypt_pdf

    from parserpdf_spark.kernels.pdf_binary import (
        _raw_stream,
        _split_objects,
        pdf_to_blocks,
    )
    from parserpdf_spark.kernels.pdf_crypt import build_decryptor, file_id0

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    text = dict(zip(src["doc_id"].astype(int), src["text"]))[52]
    enc = encrypt_pdf(build_pdf(52, text, compress=True), "rc4")
    objs = _split_objects(enc)
    em = None
    for m in re.finditer(rb"/Encrypt\s+(\d+)\s+\d+\s+R", enc):
        em = m
    dec = build_decryptor(objs[int(em.group(1))], file_id0(enc))
    head, ct = _raw_stream(objs[5], objs)
    pt = dec.decrypt(5, 0, ct)
    ok = hashlib.md5(
        dec.file_key + struct.pack("<I", 5)[:3] + struct.pack("<I", 7)[:2]
    ).digest()[:16]
    enc7 = enc.replace(b"\n5 0 obj\n", b"\n5 7 obj\n").replace(
        head + b"stream\n" + ct, head + b"stream\n" + rc4(ok, pt))
    got = [b["text"] for b in pdf_to_blocks(enc7)]
    want = [b["text"]
            for b in pdf_to_blocks(build_pdf(52, text, compress=True))]
    assert got == want


def test_v4_without_stmf_defaults_to_identity_streams():
    """Spec: an absent /StmF means Identity — streams stay PLAINTEXT
    even though /CF declares a filter (review finding: they were
    'decrypted' into garbage).  Also: the /CF sub-dict's /Length (in
    bytes) must not shadow the top-level key length (bits)."""
    import hashlib
    import re

    from make_file_fixtures import build_pdf

    from parserpdf_spark.kernels.pdf_crypt import _PAD, _key_r234

    plain = _plain_and_variants()
    id0 = bytes(range(16))
    p = -44
    # valid O/U for an empty user password (V4 R4, 128-bit)
    okey = hashlib.md5(b"owner-pw" + _PAD[: 32 - 8]).digest()
    for _ in range(50):
        okey = hashlib.md5(okey[:16]).digest()
    okey = okey[:16]
    o = rc4(okey, _PAD)
    for i in range(1, 20):
        o = rc4(bytes(b ^ i for b in okey), o)
    key = _key_r234(b"", o, p, id0, 16, 4, True)
    x = rc4(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    u = x + bytes(16)
    # NOTE: /CF /Length 16 (bytes) appears BEFORE the top-level
    # /Length 128 (bits), and /StmF is absent
    enc_dict = (b"<< /Filter /Standard /V 4 /R 4 "
                b"/CF << /StdCF << /CFM /V2 /Length 16 >> >> "
                b"/Length 128 /P -44 "
                b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode()
                + b"> >>")
    doctored = plain.replace(
        b"trailer\n",
        b"90 0 obj\n" + enc_dict + b"\nendobj\ntrailer\n")
    doctored = re.sub(
        rb"trailer\s*<<",
        b"trailer\n<< /Encrypt 90 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">]",
        doctored, count=1)
    assert _spans(doctored) == _spans(plain)
