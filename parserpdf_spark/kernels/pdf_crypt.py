"""PDF standard security handler (PDF 32000-1 §7.6.3, PDF 2.0 §7.6.4 —
public spec; hashlib, the ``cryptography`` package's AES, and RC4).

Most "encrypted" PDFs in real corpora are owner-restricted with an
EMPTY user password — every consumer viewer opens them silently.  The
reference (via Marker/pypdfium) does the same.  This module recovers
the file key for that case and hands the PDF kernel a per-object
stream decryptor; files protected by a real user password fail
authentication and keep the ``encrypted`` triage status.

Supported: /Filter /Standard with
- V 1/2, R 2/3        — RC4, 40..128-bit keys
- V 4, R 4            — /CF crypt filters: /V2 (RC4) or /AESV2
  (AES-128-CBC, IV-prefixed payloads); /Identity passthrough
- V 5, R 5/6          — /AESV3 (AES-256-CBC), SHA-256 (+ the R6
  iterated SHA-256/384/512 + AES-CBC hardening loop), file key
  unwrapped from /UE

Out of scope (raise ValueError → ``encrypted`` triage): non-Standard
security handlers, /EFF embedded-file-only crypt, public-key (PKCS#7)
encryption.

AES is the ``cryptography`` package's (a compiled wheel the executors
must have installed; ``pdf_binary`` triages encrypted PDFs as
``encrypted`` when it is missing).  The extraction pipeline is written
from scratch; cipher primitives are not part of that.  RC4 stays
hand-written for the key-size reason in its docstring.

This is DECRYPTION of documents the caller is entitled to open — not a
password cracker: one password attempt per file, supplied by the caller.
"""

from __future__ import annotations

import hashlib
import re
import struct

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# the 32-byte password pad constant from the spec (Algorithm 2)
_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A"
)


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (encrypt == decrypt; KSA + PRGA, RFC 6229).

    Hand-written because ``cryptography``'s ``ARC4`` accepts only
    40/56/64/80/128/160/192/256-bit keys, while PDF R2-R4 allows any
    file key from 40 to 128 bits in steps of 8 and derives per-object
    keys of ``min(n + 5, 16)`` bytes — a legal ``/Length 64`` file
    decrypts its streams with 104-bit keys the library refuses.  One
    RC4 for every key length beats two paths split by key size."""
    s = list(range(256))
    j = 0
    klen = len(key)
    if klen == 0:
        raise ValueError("empty RC4 key")
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def aes_cbc_decrypt(data: bytes, key: bytes, iv: bytes | None = None,
                    unpad: bool = True) -> bytes:
    """AES-CBC decrypt.  With ``iv=None`` the first 16 bytes of data
    are the IV (the PDF AESV2/AESV3 string/stream layout); ``unpad``
    strips the last byte's count of bytes when it is 1..16 (the other
    pad bytes are not checked, so files readers open still open)."""
    if iv is None:
        if len(data) < 16:
            raise ValueError("AES-CBC data shorter than its IV")
        iv, data = data[:16], data[16:]
    if len(data) % 16:
        raise ValueError("AES-CBC data not block-aligned")
    dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
    out = dec.update(data) + dec.finalize()
    if unpad:
        if not out:
            return b""
        pad = out[-1]
        if pad < 1 or pad > 16 or pad > len(out):
            raise ValueError("bad AES-CBC padding")
        out = out[:-pad]
    return out


def aes_cbc_encrypt(data: bytes, key: bytes, iv: bytes,
                    pad: bool = True) -> bytes:
    """AES-CBC encrypt (PKCS#7 when ``pad``); returns ciphertext
    WITHOUT the IV prefix (callers that need the PDF layout prepend
    it)."""
    if pad:
        n = 16 - len(data) % 16
        data = data + bytes([n]) * n
    elif len(data) % 16:
        raise ValueError("unpadded AES-CBC data must be block-aligned")
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()



def _dict_string(head: bytes, key: bytes) -> bytes | None:
    """The value of ``/key`` when it is a PDF string — hex ``<…>`` or
    literal ``(…)`` with escapes and balanced parens."""
    m = re.search(rb"/" + key + rb"\s*(<|\()", head)
    if m is None:
        return None
    return _string_at(head, m.start(1), key)


def _string_at(head: bytes, at: int, key: bytes) -> bytes:
    """Decode the PDF string starting at ``head[at]`` (``<`` or ``(``)."""
    if head[at : at + 1] == b"<":
        end = head.find(b">", at)
        if end < 0:
            raise ValueError(f"unterminated hex string for /{key.decode()}")
        h = re.sub(rb"\s+", b"", head[at + 1 : end])
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii"))
    # literal string: balanced parens, backslash escapes
    depth = 0
    i = at
    out = bytearray()
    while i < len(head):
        c = head[i]
        if c == 0x5C and i + 1 < len(head):  # backslash
            nxt = head[i + 1]
            table = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}
            if nxt in table:
                out.append(table[nxt])
                i += 2
                continue
            if 0x30 <= nxt <= 0x37:
                j = i + 1
                digits = b""
                while j < len(head) and len(digits) < 3 and 0x30 <= head[j] <= 0x37:
                    digits += head[j : j + 1]
                    j += 1
                out.append(int(digits, 8) & 0xFF)
                i = j
                continue
            out.append(nxt)
            i += 2
            continue
        if c == 0x28:  # (
            depth += 1
            if depth > 1:
                out.append(c)
            i += 1
            continue
        if c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out)
            out.append(c)
            i += 1
            continue
        out.append(c)
        i += 1
    raise ValueError(f"unterminated literal string for /{key.decode()}")


def _balanced_dict(src: bytes, at: int) -> bytes:
    """The balanced ``<< … >>`` region starting at ``src[at]``."""
    depth = 0
    i = at
    while i < len(src) - 1:
        two = src[i : i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return src[at:i]
        else:
            i += 1
    raise ValueError("unbalanced dictionary in /Encrypt")


def _int_of(head: bytes, key: bytes, default: int | None = None) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(-?\d+)", head)
    return int(m.group(1)) if m else default


def file_id0(data: bytes) -> bytes:
    """First element of the LAST trailer's /ID array (the one key
    derivation uses); empty bytes when absent (legal, discouraged)."""
    last = None
    for m in re.finditer(rb"/ID\s*\[\s*(<|\()", data):
        last = m
    if last is None:
        return b""
    return _string_at(data, last.start(1), b"ID")


def _key_r234(password: bytes, o: bytes, p: int, id0: bytes,
              key_len: int, r: int, encrypt_metadata: bool) -> bytes:
    pw = (password + _PAD)[:32]
    h = hashlib.md5(pw + o[:32] + struct.pack("<q", p)[:4] + id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:key_len]).digest()
    return key[:key_len]


def _user_check_r234(key: bytes, id0: bytes, u: bytes, r: int) -> bool:
    if r == 2:
        return rc4(key, _PAD)[:32] == u[:32]
    x = rc4(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x[:16] == u[:16]


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """PDF 2.0 Algorithm 2.B (R6): iterated SHA-256/384/512 with an
    AES-128-CBC mixing step.  (256 ≡ 1 mod 3, so the spec's
    'first-16-bytes as big-endian integer mod 3' equals the byte-sum
    mod 3 — computed via int.from_bytes for clarity.)"""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k1, k[:16], iv=k[16:32], pad=False)
        mod = int.from_bytes(e[:16], "big") % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


class StreamDecryptor:
    """Per-object stream decryption for an authenticated file."""

    def __init__(self, method: str, file_key: bytes, v: int):
        self.method = method  # "rc4" | "aes" | "identity"
        self.file_key = file_key
        self.v = v

    def _object_key(self, num: int, gen: int) -> bytes:
        if self.v >= 5:
            return self.file_key  # AESV3: the file key is used directly
        ext = struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
        salt = b"sAlT" if self.method == "aes" else b""
        digest = hashlib.md5(self.file_key + ext + salt).digest()
        return digest[: min(len(self.file_key) + 5, 16)]

    def decrypt(self, num: int, gen: int, payload: bytes) -> bytes:
        if self.method == "identity" or not payload:
            return payload
        key = self._object_key(num, gen)
        if self.method == "rc4":
            return rc4(key, payload)
        return aes_cbc_decrypt(payload, key)  # IV-prefixed, PKCS#7


def build_decryptor(
    enc_head: bytes, id0: bytes, password: bytes = b""
) -> StreamDecryptor:
    """/Encrypt dictionary head + /ID[0] → authenticated stream
    decryptor, or ValueError (wrong password / out-of-scope handler)."""
    fm = re.search(rb"/Filter\s*/([A-Za-z0-9]+)", enc_head)
    if fm is None or fm.group(1) != b"Standard":
        raise ValueError(
            "non-Standard PDF security handler (password/cert plugin)"
        )
    v = _int_of(enc_head, b"V", 0)
    r = _int_of(enc_head, b"R", 0)
    o = _dict_string(enc_head, b"O")
    u = _dict_string(enc_head, b"U")
    p = _int_of(enc_head, b"P", -1)
    if o is None or u is None:
        raise ValueError("Standard handler without /O and /U strings")

    if v in (1, 2) or (v == 4 and r in (2, 3, 4)):
        # scope /Length correctly: the /CF sub-dict has its own /Length
        # (in BYTES) that must not shadow the top-level key length (bits)
        cf_region = b""
        cm = re.search(rb"/CF\s*(<<)", enc_head)
        if cm:
            cf_region = _balanced_dict(enc_head, cm.start(1))
        head_sans_cf = (enc_head.replace(cf_region, b"")
                        if cf_region else enc_head)
        key_bits = _int_of(head_sans_cf, b"Length", 40 if v == 1 else 128)
        key_len = max(5, min(16, (key_bits or 40) // 8))
        em = not re.search(rb"/EncryptMetadata\s+false", head_sans_cf)
        method = "rc4"
        if v == 4:
            # spec default: an ABSENT /StmF means Identity (streams
            # plaintext); only /StmF /StdCF routes through the named
            # crypt filter's /CFM
            sf = re.search(rb"/StmF\s*/([A-Za-z0-9]+)", head_sans_cf)
            stmf = sf.group(1) if sf else b"Identity"
            if stmf == b"Identity":
                method = "identity"
            else:
                cfm = re.search(rb"/CFM\s*/([A-Za-z0-9]+)", cf_region)
                name = cfm.group(1) if cfm else b"Identity"
                if name == b"AESV2":
                    method = "aes"
                    key_len = 16
                elif name == b"V2":
                    method = "rc4"
                elif name == b"Identity":
                    method = "identity"
                else:
                    raise ValueError(
                        f"unsupported crypt filter {name.decode()}")
        key = _key_r234(password, o, p, id0, key_len, max(r, 2), em)
        if not _user_check_r234(key, id0, u, max(r, 2)):
            raise ValueError(
                "user password required (empty-password authentication "
                "failed)"
            )
        return StreamDecryptor(method, key, v or 1)

    if v == 5 and r in (5, 6):
        if len(u) < 48:
            raise ValueError("V5 /U shorter than 48 bytes")
        ue = _dict_string(enc_head, b"UE")
        if ue is None or len(ue) < 32:
            raise ValueError("V5 handler without /UE")
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 5:  # deprecated Adobe extension: plain SHA-256
            if hashlib.sha256(password + vsalt).digest() != u[:32]:
                raise ValueError("user password required (R5 check failed)")
            ikey = hashlib.sha256(password + ksalt).digest()
        else:
            if _hash_2b(password, vsalt, b"") != u[:32]:
                raise ValueError("user password required (R6 check failed)")
            ikey = _hash_2b(password, ksalt, b"")
        file_key = aes_cbc_decrypt(ue[:32], ikey, iv=bytes(16), unpad=False)
        return StreamDecryptor("aes", file_key, 5)

    raise ValueError(f"unsupported Standard handler V={v} R={r}")
