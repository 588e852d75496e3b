"""Real-PDF tokenizer: ``%PDF-`` bytes -> list[Block].

The PDF leg of the extraction kernel (the north rule's "PDF/layout
parse"): pure-stdlib (struct-free scanner + zlib FlateDecode), fully
deterministic, emitting the same Block structure as the HTML tokenizer
so the downstream stages — XY-cut reading order (layout.py), density
scoring and island selection (select.py) — are shared verbatim. This
mirrors the reference routing PDFs and photos through the same
detection/decoding stack once the per-format decode normalizes them
(/root/reference/data/dataset_mapper.py:140-163).

Scope (documented, deterministic):
  * standard-security-handler RC4 encryption (V 1/2, R 2/3, the
    owner-password-only scheme crawl PDFs carry) is decrypted by a
    byte-preserving pre-pass (streams in place; dict strings are NOT
    decrypted — the text path reads stream content only); AES and
    user-password files stay opaque and extract to nothing, a
    deterministic skip;
  * content streams are located by ``obj .. stream .. endstream``
    scanning with ``/Length`` taken literally when present (indirect
    ``R`` lengths fall back to the endstream scan); ``/FlateDecode``
    bodies are inflated with zlib, anything that fails to inflate is
    skipped rather than guessed at;
  * the text machine models the operators real generators emit:
    BT/ET, Tf, Td, TD, TL, Tm, T*, Tj, TJ (with kerning-derived word
    breaks), ' and "; graphics and image XObjects are ignored;
  * one BT..ET text object = one Block, with an absolute-position box
    derived from the text-space coordinates (page height from the
    first /MediaBox, PDF's bottom-up y flipped to top-down) — exactly
    what the XY-cut pass consumes;
  * strings decode through the active font's /ToUnicode CMap when one
    is embedded (bfchar + bfrange, 1- or 2-byte codes, FlateDecode
    streams — the subset every modern generator emits for embedded
    fonts), else through the font's /Encoding /Differences array
    (glyph names resolved via an Adobe-Glyph-List subset + the
    algorithmic uniXXXX family — the classic pre-Unicode re-encoding
    shape), else through the embedded font PROGRAM (TrueType
    FontFile2 cmap+post tables; CFF/Type1C FontFile3
    Encoding+charset+strings), else as UTF-16BE when BOM-prefixed,
    else Latin-1 (PDFDocEncoding's printable range); only
    outline-only fonts carrying no code->text information at all
    remain out of scope (recovering those is glyph-shape OCR — the
    model this engine's survey replaces);
  * each content stream is offset to its own vertical band so
    multi-page documents keep page order through the XY-cut (a
    /Contents array splitting ONE page across streams would band
    them too — acceptable: intra-stream order is preserved).
"""

from __future__ import annotations

import re
import struct
import zlib

from toyocr_spark.extractor.tokenizer import Block, make_block

PDF_MAGIC = b"%PDF-"

TITLE_MIN_SIZE = 14.0  # effective font size at/above which a text
#                        object classifies as "title" (heading analogue)
_DEFAULT_PAGE_H = 792.0  # US Letter, when no /MediaBox is present
_PAGE_BAND_GAP = 64  # vertical gap between per-stream bands (> MIN_GAP)
_TJ_SPACE_THRESHOLD = -180.0  # TJ kerning (1/1000 em) at/below which a
#                               word break is implied (common heuristic)
_CHAR_WIDTH_EM = 0.5  # width estimate: monospace-ish advance per glyph

_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)"
)
# what float() raises on a text operator's non-numeric operand (a
# string, an array or garbled bytes); the operator is then skipped
_NOT_NUMERIC = (TypeError, ValueError)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_NUM_RE = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")
_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")

_ESCAPES = {
    ord("n"): 0x0A,
    ord("r"): 0x0D,
    ord("t"): 0x09,
    ord("b"): 0x08,
    ord("f"): 0x0C,
    ord("("): 0x28,
    ord(")"): 0x29,
    ord("\\"): 0x5C,
}


def is_pdf(data: bytes | str | None) -> bool:
    return isinstance(data, (bytes, bytearray)) and data[:5] == PDF_MAGIC


# ----------------------------------------------- encryption (standard)
#
# The standard security handler with the EMPTY user password — how the
# overwhelming majority of encrypted crawl PDFs are protected
# (owner-password-only "permissions" encryption). All three live
# revisions decrypt: RC4 (spec 7.6.3: V 1/2, R 2/3) as an in-place
# PRE-PASS (stream cipher, byte-identical offsets), AESV2 (V4/R4,
# AES-128-CBC) and AESV3 (V5 — both R6, ISO 32000-2 SHA-2 Algorithm
# 2.A/2.B, and R5, the pre-ISO Acrobat-9 draft with a single-SHA-256
# KDF) by REBUILDING the file (CBC is not length-preserving).
# User-password-protected files are out of scope: decrypt_pdf leaves
# them untouched, their streams stay opaque, extraction yields no
# text — a deterministic skip, never garbage or a crash.

_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s*R")
_ID_OPEN_RE = re.compile(rb"/ID\s*\[\s*([<(])")


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 (public algorithm; used here to DECRYPT existing archives —
    a defensive/format-compatibility use, not a recommendation)."""
    S = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % kl]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _std_file_key(
    o: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2 (spec 7.6.3.3) with the empty user password; R4
    with /EncryptMetadata false appends ffffffff to the hash input."""
    import hashlib

    n = 5 if r == 2 else max(5, min(16, length_bits // 8))
    tail = b"" if (r < 4 or encrypt_metadata) else b"\xff\xff\xff\xff"
    h = hashlib.md5(_PAD + o[:32] + struct.pack("<i", p) + id0 + tail).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Algorithm 2.B (spec 7.6.4.3.4, PDF 2.0 / R6): the SHA-2 based
    password hash. Start from SHA-256(pwd+salt+udata); each round
    AES-128-CBC-encrypts 64 repetitions of (pwd+K+udata) with K's
    first 16 bytes as key and next 16 as IV, picks SHA-256/384/512 by
    (sum of E's first 16 bytes) mod 3, and stops once at least 64
    rounds ran AND E's last byte <= round-32. ``udata`` is empty for
    the user-password hashes and the 48-byte /U for the owner ones."""
    import hashlib

    from toyocr_spark.aescipher import cbc_encrypt_raw

    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = cbc_encrypt_raw(k[:16], k[16:32], k1)
        digest = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3]
        k = digest(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


_R6_KEY_CACHE: dict[tuple[bytes, bytes, int], bytes | None] = {}


def _r6_file_key(u: bytes, ue: bytes, r: int = 6) -> bytes | None:
    """R5/R6 file key for the EMPTY user password (the
    owner-password-only permissions scheme crawl PDFs carry): validate
    /U's hash half with the validation salt, then decrypt /UE with the
    intermediate key from the key salt (Algorithm 2.A steps b/e; zero
    IV, no padding). R6 (ISO 32000-2) hashes with Algorithm 2.B; R5
    (the pre-ISO Acrobat-9 draft, ExtensionLevel 3) with a single
    SHA-256 over the same inputs — the only difference between the two
    revisions. None when validation fails — i.e. the file genuinely
    requires a user password, which this pipeline deterministically
    skips."""
    import hashlib

    from toyocr_spark.aescipher import cbc_decrypt_raw

    if len(u) < 48 or len(ue) < 32:
        return None
    ck = (u[:48], ue[:32], r)
    if ck in _R6_KEY_CACHE:
        # the R6 KDF is deliberately slow (Algorithm 2.B: ~8k AES block
        # encryptions); within one document the text pass and every
        # /URI string decryption re-derive the same key, so memoize.
        return _R6_KEY_CACHE[ck]
    _hash = (
        _hash_2b
        if r == 6
        else (lambda pwd, salt, udata=b"": hashlib.sha256(pwd + salt + udata).digest())
    )
    if _hash(b"", u[32:40]) != u[:32]:
        key = None  # non-empty user password: unsupported, skip
    else:
        key = cbc_decrypt_raw(_hash(b"", u[40:48]), bytes(16), ue[:32])
    if len(_R6_KEY_CACHE) >= 64:  # bounded: a few docs in flight at most
        _R6_KEY_CACHE.clear()
    _R6_KEY_CACHE[ck] = key
    return key


def _obj_key(file_key: bytes, num: int, gen: int, aes: bool = False) -> bytes:
    """Algorithm 1: the per-object key (low 3 bytes of the object
    number, low 2 of the generation — masked, so a hostile digit run
    parsed as a huge 'object number' can never raise); the AESV2
    variant additionally salts the hash with the spec's 'sAlT' bytes."""
    import hashlib

    h = hashlib.md5(
        file_key
        + struct.pack("<I", num & 0xFFFFFFFF)[:3]
        + struct.pack("<I", gen & 0xFFFFFFFF)[:2]
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


def _stream_span(obj: bytes) -> tuple[int, int] | None:
    """(body_start, body_end) of the object's stream, preferring the
    declared /Length — the one boundary rule shared by the decryptor
    and the fixture encryptor so they can never disagree."""
    sk = obj.find(b"stream")
    if sk == -1:
        return None
    body_start = sk + 6
    if obj[body_start : body_start + 2] == b"\r\n":
        body_start += 2
    elif obj[body_start : body_start + 1] == b"\n":
        body_start += 1
    m = _LENGTH_RE.search(obj[:sk])
    if m is not None and body_start + int(m.group(1)) <= len(obj):
        return body_start, body_start + int(m.group(1))
    body_end = obj.find(b"endstream", body_start)
    if body_end == -1:
        body_end = len(obj)
    # spec: ONE EOL precedes endstream — strip exactly one sequence,
    # never a loop (on the decrypt side extra trailing bytes are
    # ciphertext that merely HAPPENS to look like \n; a greedy strip
    # would truncate the span)
    if obj[body_end - 2 : body_end] == b"\r\n":
        body_end -= 2
    elif obj[body_end - 1 : body_end] in (b"\n", b"\r"):
        body_end -= 1
    return body_start, body_end


_FULL_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _encryption_params(data: bytes):
    """(file_key) when the trailer declares supported standard RC4
    encryption, else None. Looks at the LAST /Encrypt reference (the
    live trailer in an incrementally-updated file)."""
    refs = list(_ENCRYPT_REF_RE.finditer(data))
    if not refs:
        return None
    num, gen = int(refs[-1].group(1)), int(refs[-1].group(2))
    om = re.search(
        rb"(?<![0-9])" + str(num).encode() + rb"\s+" + str(gen).encode()
        + rb"\s+obj\b(.*?)endobj",
        data,
        re.DOTALL,
    )
    if om is None:
        return None
    enc = om.group(1)
    if b"/Standard" not in enc:
        return None
    vm = re.search(rb"/V\s+(\d+)", enc)
    rm = re.search(rb"/R\s+(\d+)", enc)
    pm = re.search(rb"/P\s+(-?\d+)", enc)
    lm = re.search(rb"/Length\s+(\d+)", enc)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 0

    def _entry_string(name: bytes) -> bytes | None:
        em = re.search(rb"/" + name + rb"\s*([(<])", enc)
        if em is None:
            return None
        k = em.start(1)
        if enc[k : k + 1] == b"(":
            val, _ = _lit_string(enc, k)
        else:
            val, _ = _hex_string(enc, k)
        return val

    if v == 5 and r in (5, 6) and b"/AESV3" in enc:
        # AES-256 crypt-filter scheme: R6 = PDF 2.0 (Algorithm 2.A/2.B
        # SHA-2 derivation), R5 = the pre-ISO Acrobat-9 draft (single
        # SHA-256, same entry layout). Both use the FILE key directly
        # for all objects — unlike every earlier revision, no
        # per-object MD5 salting. /O /P /ID play no role in deriving
        # the empty-user-password key.
        #
        # Gate on the stream/string filters actually ROUTING through
        # the AESV3 StdCF: the spec default for an absent /StmF or
        # /StrF is /Identity (plaintext), and running plaintext through
        # CBC would silently corrupt any stream whose tail happens to
        # parse as valid PKCS#7 padding.
        stmf = re.search(rb"/StmF\s*/([A-Za-z0-9]+)", enc)
        strf = re.search(rb"/StrF\s*/([A-Za-z0-9]+)", enc)
        if stmf is None or stmf.group(1) != b"StdCF":
            return None
        if strf is None or strf.group(1) != b"StdCF":
            return None
        u_val = _entry_string(b"U")
        ue_val = _entry_string(b"UE")
        if u_val is None or ue_val is None:
            return None
        key = _r6_file_key(u_val, ue_val, r)
        if key is None:
            return None
        return key, num, "aes3"

    method = None
    if v in (1, 2) and r in (2, 3):
        method = "rc4"
    elif v == 4 and r == 4 and b"/AESV2" in enc:
        # V4 crypt-filter scheme with the AESV2 StdCF — streams (and
        # strings) are AES-128-CBC. V4-with-RC4-CF ("/V2" CFM) would
        # also be expressible here but is vanishingly rare.
        method = "aes"
    if method is None or pm is None:
        return None
    oim = re.search(rb"/O\s*([(<])", enc)
    o_val: bytes | None = None
    if oim is not None:
        k = oim.start(1)  # both readers take the index OF the opener
        if enc[k : k + 1] == b"(":
            o_val, _ = _lit_string(enc, k)
        else:
            o_val, _ = _hex_string(enc, k)
    if o_val is None or len(o_val) < 32:
        return None
    ids = list(_ID_OPEN_RE.finditer(data))
    if not ids:
        return None
    idm = ids[-1]  # the live (last) trailer's ID, same rule as /Encrypt
    at = idm.start(1)
    if data[at : at + 1] == b"<":
        id0, _ = _hex_string(data, at)
    else:  # literal string: full escape handling, embedded ')' included
        id0, _ = _lit_string(data, at)
    length_bits = int(lm.group(1)) if lm else (128 if method == "aes" else 40)
    p_val = int(pm.group(1))
    if p_val > 0x7FFFFFFF:  # writers that store P unsigned
        p_val -= 1 << 32
    encrypt_metadata = (
        re.search(rb"/EncryptMetadata\s+false", enc) is None
    )  # R4: false appends ffffffff to the Algorithm-2 hash input
    key = _std_file_key(o_val, p_val, id0, r, length_bits, encrypt_metadata)
    return key, num, method


_DECRYPT_CACHE: dict[int, tuple[bytes, bytes]] = {}


def decrypt_pdf(data: bytes) -> bytes:
    """Return the byte-identical-layout plaintext of a standard-RC4
    encrypted PDF (every object's stream RC4-decrypted in place with
    its per-object key; the Encrypt dict itself left alone), or the
    input unchanged when the file is not encrypted or uses an
    unsupported scheme. Unencrypted files short-circuit on a substring
    check; a tiny keyed cache lets text and link extraction over the
    same encrypted document pay the RC4 pass once."""
    if b"/Encrypt" not in data:  # the fast path for the whole crawl
        return data
    ck = hash(data)
    hit = _DECRYPT_CACHE.get(ck)
    if hit is not None and hit[0] == data:
        return hit[1]
    try:
        params = _encryption_params(data)
    except Exception:
        return data
    if params is None:
        return data
    file_key, enc_num, method = params
    if method in ("aes", "aes3"):
        result = _decrypt_pdf_aes(data, file_key, enc_num, obj_salt=method == "aes")
        if len(_DECRYPT_CACHE) >= 4:
            _DECRYPT_CACHE.clear()
        _DECRYPT_CACHE[ck] = (data, result)
        return result
    out = bytearray(data)
    # an 'N G obj' digit pattern can occur INSIDE stream ciphertext; a
    # bogus match there must never re-cipher part of an already-
    # decrypted real stream with the wrong key. Two guards: a header
    # must start a line (real writers emit xref-addressable headers on
    # their own lines; ciphertext rarely obliges), and spans decrypt
    # at most once, first (outermost) match wins.
    last_hi = 0
    for m in _FULL_OBJ_RE.finditer(data):
        if m.start() > 0 and data[m.start() - 1 : m.start()] not in (b"\n", b"\r"):
            continue
        num, gen = int(m.group(1)), int(m.group(2))
        if num == enc_num:
            continue
        end = data.find(b"endobj", m.end())
        if end == -1:
            end = len(data)
        obj = data[m.end() : end]
        span = _stream_span(obj)
        if span is None:
            continue
        lo, hi = m.end() + span[0], m.end() + span[1]
        if lo < last_hi:  # overlaps a span already decrypted
            continue
        out[lo:hi] = _rc4(_obj_key(file_key, num, gen), data[lo:hi])
        last_hi = hi
    result = bytes(out)
    if len(_DECRYPT_CACHE) >= 4:  # bounded: a few docs in flight at most
        _DECRYPT_CACHE.clear()
    _DECRYPT_CACHE[ck] = (data, result)
    return result


def _decrypt_pdf_aes(
    data: bytes, file_key: bytes, enc_num: int, obj_salt: bool = True
) -> bytes:
    """AESV2 (V4/R4) and AESV3 (V5/R6) stream decryption — identical
    CBC stream layout; the only difference is the key (AESV2 salts a
    per-object MD5 key via Algorithm 1, ``obj_salt=False`` for R6
    uses the 32-byte file key directly per spec 7.6.4.2).
    Unlike RC4, AES-CBC is NOT
    length-preserving (16-byte IV prefix + PKCS#7 padding), so the
    file is REBUILT segment by segment: each stream body is replaced
    by its plaintext and the object's direct /Length is rewritten.
    Offsets shift, which is safe because the whole text machine parses
    by scanning (obj/stream/endstream keywords), never via the xref.
    Objects whose /Length is an indirect reference, or whose body
    fails CBC length/padding validation (hostile bytes), are left
    encrypted — deterministic garbage-free degradation, never a raise.
    Pure-Python AES (toyocr_spark.aescipher, FIPS-197-vector-pinned)
    runs ~1 MB/s/core: acceptable because AESV2 files are a
    sub-percent crawl slice with KB streams; a production deployment
    swaps the cbc_decrypt callee for a native codec, nothing else."""
    from toyocr_spark.aescipher import cbc_decrypt

    parts: list[bytes] = []
    cursor = 0
    last_hi = 0
    for m in _FULL_OBJ_RE.finditer(data):
        if m.start() > 0 and data[m.start() - 1 : m.start()] not in (b"\n", b"\r"):
            continue
        num, gen = int(m.group(1)), int(m.group(2))
        if num == enc_num:
            continue
        end = data.find(b"endobj", m.end())
        if end == -1:
            end = len(data)
        obj = data[m.end() : end]
        span = _stream_span(obj)
        if span is None:
            continue
        lo, hi = m.end() + span[0], m.end() + span[1]
        if lo < last_hi:
            continue
        try:
            key = _obj_key(file_key, num, gen, aes=True) if obj_salt else file_key
            plain = cbc_decrypt(key, data[lo:hi])
        except ValueError:
            continue
        new_dict, nsub = _LENGTH_RE.subn(
            b"/Length " + str(len(plain)).encode(), data[m.end() : lo], count=1
        )
        if nsub == 0:
            continue  # indirect /Length: boundary not rewritable here
        parts.append(data[cursor : m.end()])
        parts.append(new_dict)
        parts.append(plain)
        cursor = hi
        last_hi = hi
    parts.append(data[cursor:])
    return b"".join(parts)


def _decrypt_string_at(data: bytes, pos: int) -> bytes | None:
    """Decrypt the literal string opening at ``pos`` in the ORIGINAL
    (encrypted) file using its enclosing object's key — the string
    half of decryption, applied on demand (the text path never needs
    it; /URI link harvesting does). None when the file is not
    encrypted with a supported scheme or no enclosing object exists."""
    try:
        params = _encryption_params(data)
    except Exception:
        return None
    if params is None:
        return None
    file_key, _, method = params
    enclosing = None
    for m in _FULL_OBJ_RE.finditer(data, 0, pos):
        # same line-boundary guard as decrypt_pdf: digit runs inside
        # ciphertext must not masquerade as the enclosing object
        if m.start() > 0 and data[m.start() - 1 : m.start()] not in (b"\n", b"\r"):
            continue
        enclosing = m
    if enclosing is None:
        return None
    raw, _ = _lit_string(data, pos)
    num, gen = int(enclosing.group(1)), int(enclosing.group(2))
    if method in ("aes", "aes3"):
        from toyocr_spark.aescipher import cbc_decrypt

        key = (
            _obj_key(file_key, num, gen, aes=True) if method == "aes" else file_key
        )
        try:
            return cbc_decrypt(key, raw)
        except ValueError:
            return None  # not a well-formed AES string: caller skips
    return _rc4(_obj_key(file_key, num, gen), raw)


# ------------------------------------------------------- stream location


def _content_streams(data: bytes) -> list[bytes]:
    """All decodable stream bodies that look like text content, in file
    order. Image XObjects are skipped by their dict; non-inflating
    Flate bodies are skipped (truncated files stay deterministic)."""
    out: list[bytes] = []
    pos = 0
    n = len(data)
    while True:
        sk = data.find(b"stream", pos)
        if sk == -1:
            break
        obj_start = data.rfind(b"obj", 0, sk)
        sdict = data[obj_start if obj_start != -1 else max(0, sk - 512) : sk]
        body_start = sk + 6
        if data[body_start : body_start + 2] == b"\r\n":
            body_start += 2
        elif data[body_start : body_start + 1] == b"\n":
            body_start += 1
        m = _LENGTH_RE.search(sdict)
        if m is not None:
            body_end = body_start + int(m.group(1))
            pos = data.find(b"endstream", body_end)
            pos = body_end if pos == -1 else pos + 9
        else:
            body_end = data.find(b"endstream", body_start)
            if body_end == -1:
                break
            pos = body_end + 9
            while body_end > body_start and data[body_end - 1 : body_end] in (b"\n", b"\r"):
                body_end -= 1
        if body_end > n:
            break
        if b"/Image" in sdict:
            continue
        body = data[body_start:body_end]
        if b"/FlateDecode" in sdict:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue
        if b"BT" in body and (b"Tj" in body or b"TJ" in body or b"'" in body):
            out.append(body)
    return out


# -------------------------------------------------------- string decode


def _decode_string(bs: bytes) -> str:
    if bs[:2] == b"\xfe\xff":
        return bs[2:].decode("utf-16-be", "replace")
    return bs.decode("latin-1")


# ------------------------------------------------- ToUnicode CMap support
#
# Embedded-font PDFs (LaTeX, every modern word processor) write subset
# fonts whose string bytes are arbitrary glyph codes; without the
# font's /ToUnicode CMap the Latin-1 fallback extracts ciphertext.
# Scope: bfchar + bfrange (both scalar-destination and array forms),
# 1- or 2-byte codes (from the codespacerange width), FlateDecode CMap
# streams, fonts referenced from page /Resources /Font dicts. The
# first font seen under a resource name wins (names are per-page in
# full generality; the cross-page collision case is documented).

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_ENTRY_RE = re.compile(rb"/([A-Za-z0-9_.]+)\s+(\d+)\s+\d+\s+R")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])"
)
_HEXITEM_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_CODESPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", re.S)


_OBJSTM_PAIR_RE = re.compile(rb"\s*(\d+)\s+(\d+)")


def _object_bodies(data: bytes) -> dict[int, bytes]:
    """obj number -> raw object bytes (dict + optional stream).

    PDF 1.5 compressed object streams (/Type /ObjStm) are expanded
    one level: their member objects (where modern writers put font
    dicts, encodings, and ToUnicode CMaps) join the map. Top-level
    definitions win over ObjStm members, members of earlier streams
    win over later ones (first definition wins — no xref chasing,
    same discipline as the top-level scan). Bounded: member count is
    capped and offsets are validated, so hostile /N values cannot
    amplify."""
    out: dict[int, bytes] = {}
    objstms: list[bytes] = []
    for m in _OBJ_RE.finditer(data):
        end = data.find(b"endobj", m.end())
        if end == -1:
            end = len(data)
        num = int(m.group(1))
        body = data[m.end() : end]
        if num not in out:
            out[num] = body
        if b"/ObjStm" in body[: body.find(b"stream") if b"stream" in body else len(body)]:
            objstms.append(body)
    for obj in objstms:
        stream = _object_stream(obj)
        if stream is None:
            continue
        nm = re.search(rb"/N\s+(\d+)", obj)
        fm = re.search(rb"/First\s+(\d+)", obj)
        if nm is None or fm is None:
            continue
        n, first = min(int(nm.group(1)), 4096), int(fm.group(1))
        if not 0 <= first <= len(stream):
            continue
        pairs: list[tuple[int, int]] = []
        pos = 0
        for _ in range(n):
            pm = _OBJSTM_PAIR_RE.match(stream, pos)
            if pm is None or pm.start() >= first:
                break
            pairs.append((int(pm.group(1)), int(pm.group(2))))
            pos = pm.end()
        for i, (num, off) in enumerate(pairs):
            start = first + off
            stop = first + pairs[i + 1][1] if i + 1 < len(pairs) else len(stream)
            if not 0 <= start <= stop <= len(stream):
                continue
            if num not in out:
                out[num] = stream[start:stop]
    return out


def _object_stream(obj: bytes) -> bytes | None:
    """The object's decoded stream body, or None if it has none."""
    sk = obj.find(b"stream")
    if sk == -1:
        return None
    body_start = sk + 6
    if obj[body_start : body_start + 2] == b"\r\n":
        body_start += 2
    elif obj[body_start : body_start + 1] == b"\n":
        body_start += 1
    body_end = obj.find(b"endstream", body_start)
    if body_end == -1:
        body_end = len(obj)
    while body_end > body_start and obj[body_end - 1 : body_end] in (b"\n", b"\r"):
        body_end -= 1
    body = obj[body_start:body_end]
    if b"/FlateDecode" in obj[:sk]:
        try:
            body = zlib.decompress(body)
        except zlib.error:
            return None
    return body


def _utf16_hex(h: bytes) -> str:
    try:
        return bytes.fromhex(h.decode("ascii")).decode("utf-16-be", "replace")
    except ValueError:
        return ""


def _parse_cmap(body: bytes) -> tuple[int, dict[int, str]] | None:
    """(code width in bytes, code -> text). None if nothing mapped."""
    cs = _CODESPACE_RE.search(body)
    width = max(1, len(cs.group(1)) // 2) if cs else 1
    table: dict[int, str] = {}
    for sec in _BFCHAR_RE.finditer(body):
        for m in _HEXPAIR_RE.finditer(sec.group(1)):
            table[int(m.group(1), 16)] = _utf16_hex(m.group(2))
    for sec in _BFRANGE_RE.finditer(body):
        for m in _RANGE_RE.finditer(sec.group(1)):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if hi - lo > 0xFFFF:  # hostile range: bounded work
                hi = lo + 0xFFFF
            if m.group(3) is not None:
                # scalar destination: consecutive code points
                base = m.group(3)
                txt = _utf16_hex(base)
                if len(txt) == 1:
                    start = ord(txt)
                    for c in range(lo, hi + 1):
                        table[c] = chr(start + (c - lo))
                elif txt:
                    table[lo] = txt
            else:
                dsts = _HEXITEM_RE.findall(m.group(4))
                for off, dh in enumerate(dsts[: hi - lo + 1]):
                    table[lo + off] = _utf16_hex(dh)
    return (width, table) if table else None


# ------------------------------------------- /Differences encoding support
#
# Simple fonts (Type1/TrueType) without a ToUnicode CMap often carry an
# /Encoding dict whose /Differences array remaps byte codes to named
# glyphs (the classic pre-Unicode PDF shape: symbol repertoires,
# re-encoded accents). The names resolve through the Adobe Glyph List;
# the subset below covers ASCII + Latin-1 + the common typographic
# marks, plus the ALGORITHMIC uniXXXX / uXXXX(XX) families — enough for
# every /Differences array a Latin-script crawl PDF realistically
# carries. Unresolvable names (gNN subset glyphs without ToUnicode)
# stay unmapped and fall back to Latin-1, the documented seam.

_AGL: dict[str, str] = {}
for _c in range(0x41, 0x5B):  # A-Z and a-z name themselves
    _AGL[chr(_c)] = chr(_c)
    _AGL[chr(_c + 32)] = chr(_c + 32)
for _i, _n in enumerate("zero one two three four five six seven eight nine".split()):
    _AGL[_n] = str(_i)
_AGL.update(
    {
        # StandardEncoding ASCII punctuation
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
        "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
        "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
        "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
        "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
        "backslash": "\\", "bracketright": "]", "asciicircum": "^",
        "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
        "braceright": "}", "asciitilde": "~",
        # Latin-1 letters and signs
        "exclamdown": "¡", "cent": "¢", "sterling": "£",
        "currency": "¤", "yen": "¥", "brokenbar": "¦",
        "section": "§", "dieresis": "¨", "copyright": "©",
        "ordfeminine": "ª", "guillemotleft": "«",
        "logicalnot": "¬", "registered": "®", "macron": "¯",
        "degree": "°", "plusminus": "±", "acute": "´",
        "mu": "µ", "paragraph": "¶", "periodcentered": "·",
        "cedilla": "¸", "ordmasculine": "º",
        "guillemotright": "»", "onequarter": "¼",
        "onehalf": "½", "threequarters": "¾",
        "questiondown": "¿",
        "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
        "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
        "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
        "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
        "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î",
        "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
        "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô",
        "Otilde": "Õ", "Odieresis": "Ö", "multiply": "×",
        "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú",
        "Ucircumflex": "Û", "Udieresis": "Ü", "Yacute": "Ý",
        "Thorn": "Þ", "germandbls": "ß",
        "agrave": "à", "aacute": "á", "acircumflex": "â",
        "atilde": "ã", "adieresis": "ä", "aring": "å",
        "ae": "æ", "ccedilla": "ç", "egrave": "è",
        "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
        "igrave": "ì", "iacute": "í", "icircumflex": "î",
        "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
        "ograve": "ò", "oacute": "ó", "ocircumflex": "ô",
        "otilde": "õ", "odieresis": "ö", "divide": "÷",
        "oslash": "ø", "ugrave": "ù", "uacute": "ú",
        "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
        "thorn": "þ", "ydieresis": "ÿ",
        # typographic marks (WinAnsi / PDF ubiquitous)
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "endash": "–", "emdash": "—", "bullet": "•",
        "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
        "perthousand": "‰", "Euro": "€", "trademark": "™",
        "florin": "ƒ", "fraction": "⁄", "minus": "−",
        "guilsinglleft": "‹", "guilsinglright": "›",
        "fi": "ﬁ", "fl": "ﬂ",
        "OE": "Œ", "oe": "œ", "Scaron": "Š",
        "scaron": "š", "Ydieresis": "Ÿ", "Zcaron": "Ž",
        "zcaron": "ž", "circumflex": "ˆ", "tilde": "˜",
        "breve": "˘", "dotaccent": "˙", "ring": "˚",
        "ogonek": "˛", "caron": "ˇ", "hungarumlaut": "˝",
    }
)


def _glyph_char(name: str) -> str | None:
    """Glyph name -> character, per the Adobe Glyph List conventions:
    the table above, else the algorithmic uniXXXX / uXXXX(XX) forms.
    None for unresolvable names (gNN subset glyphs)."""
    ch = _AGL.get(name)
    if ch is not None:
        return ch
    try:
        if name.startswith("uni") and len(name) >= 7:
            return chr(int(name[3:7], 16))
        if name.startswith("u") and 5 <= len(name) <= 7:
            return chr(int(name[1:], 16))
    except ValueError:
        pass
    return None


_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_DIFF_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.S)
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([A-Za-z0-9._]+)")


def _parse_differences(
    font_obj: bytes, objs: dict[int, bytes]
) -> tuple[int, dict[int, str]] | None:
    """The font's /Encoding /Differences array as a 1-byte code table
    (same shape as a parsed ToUnicode CMap). The array lives either in
    an inline /Encoding dict or behind an indirect /Encoding object."""
    diff = _DIFF_RE.search(font_obj)
    if diff is None:
        ref = _ENC_REF_RE.search(font_obj)
        if ref is None:
            return None
        enc_obj = objs.get(int(ref.group(1)))
        if enc_obj is None:
            return None
        diff = _DIFF_RE.search(enc_obj)
        if diff is None:
            return None
    table: dict[int, str] = {}
    code = 0
    for m in _DIFF_TOK_RE.finditer(diff.group(1)):
        if m.group(1) is not None:
            code = int(m.group(1))
        else:
            ch = _glyph_char(m.group(2).decode("latin-1"))
            if ch is not None and 0 <= code <= 0xFF:
                table[code] = ch
            code += 1
    return (1, table) if table else None


_FONTDESC_RE = re.compile(rb"/FontDescriptor\s+(\d+)\s+\d+\s+R")
_FONTFILE2_RE = re.compile(rb"/FontFile2\s+(\d+)\s+\d+\s+R")


def _u16(b: bytes, i: int) -> int:
    return (b[i] << 8) | b[i + 1] if i + 1 < len(b) else 0


def _ttf_tables(prog: bytes) -> dict[bytes, bytes]:
    """sfnt table directory: tag -> table bytes. Tolerant of truncated
    or hostile directories (out-of-range entries are dropped)."""
    if len(prog) < 12:
        return {}
    num = _u16(prog, 4)
    out: dict[bytes, bytes] = {}
    for i in range(min(num, 64)):
        rec = 12 + 16 * i
        if rec + 16 > len(prog):
            break
        off = int.from_bytes(prog[rec + 8 : rec + 12], "big")
        ln = int.from_bytes(prog[rec + 12 : rec + 16], "big")
        if off + ln <= len(prog):
            out[prog[rec : rec + 4]] = prog[off : off + ln]
    return out


def _cmap_gid(sub: bytes, code: int) -> int:
    """One code-point lookup in a TrueType cmap subtable (formats 0, 4,
    6 — the simple-font formats). 0 = .notdef / unmapped. Per-lookup
    work is O(segments) with no table-sized allocation, so hostile
    length fields cannot amplify."""
    if len(sub) < 4:
        return 0
    fmt = _u16(sub, 0)
    if fmt == 0:
        return sub[6 + code] if 0 <= code <= 0xFF and len(sub) >= 262 else 0
    if fmt == 6:
        first, count = _u16(sub, 6), _u16(sub, 8)
        if first <= code < first + count:
            return _u16(sub, 10 + 2 * (code - first))
        return 0
    if fmt == 4:
        seg_x2 = _u16(sub, 6)
        end0, start0 = 14, 16 + seg_x2
        delta0, range0 = 16 + 2 * seg_x2, 16 + 3 * seg_x2
        for i in range(seg_x2 // 2):
            end = _u16(sub, end0 + 2 * i)
            if code > end:
                continue
            start = _u16(sub, start0 + 2 * i)
            if code < start:
                return 0
            delta = _u16(sub, delta0 + 2 * i)
            ro = _u16(sub, range0 + 2 * i)
            if ro == 0:
                return (code + delta) & 0xFFFF
            pos = range0 + 2 * i + ro + 2 * (code - start)
            gid = _u16(sub, pos)
            return (gid + delta) & 0xFFFF if gid else 0
    return 0


def _cmap_best_subtable(cmap: bytes) -> tuple[bytes, bool] | None:
    """(subtable bytes, code_keyed): prefer the code-keyed Macintosh
    (1,0) / symbolic Windows (3,0) subtables — simple-font codes index
    them directly — else fall back to a Unicode-keyed (3,1)/(0,x)
    subtable, where 1-byte codes coincide with Latin-1 code points."""
    if len(cmap) < 4:
        return None
    best: tuple[int, bytes] | None = None  # (rank, subtable) — lower wins
    for i in range(min(_u16(cmap, 2), 16)):
        rec = 4 + 8 * i
        if rec + 8 > len(cmap):
            break
        pid, eid = _u16(cmap, rec), _u16(cmap, rec + 2)
        off = int.from_bytes(cmap[rec + 4 : rec + 8], "big")
        if off >= len(cmap):
            continue
        if (pid, eid) in ((1, 0), (3, 0)):
            rank = 0
        elif (pid, eid) == (3, 1) or pid == 0:
            rank = 1
        else:
            continue
        if best is None or rank < best[0]:
            best = (rank, cmap[off:])
    if best is None:
        return None
    return best[1], best[0] == 0


def _post_gid_chars(post: bytes) -> dict[int, str]:
    """glyph id -> character from a 'post' format-2.0 table. Standard
    Macintosh order indices 3..97 are exactly ASCII 32..126 (char =
    chr(index + 29)); indices >= 258 resolve their Pascal-string names
    through the Adobe Glyph List conventions (_glyph_char). The
    non-ASCII block of the standard order (98..257) stays unmapped —
    real subsetters emit custom names for those."""
    if len(post) < 34 or int.from_bytes(post[0:4], "big") != 0x00020000:
        return {}
    num = _u16(post, 32)
    if 34 + 2 * num > len(post):
        return {}
    names: list[str] = []
    p = 34 + 2 * num
    while p < len(post) and len(names) < num:
        ln = post[p]
        names.append(post[p + 1 : p + 1 + ln].decode("latin-1"))
        p += 1 + ln
    out: dict[int, str] = {}
    for gid in range(num):
        idx = _u16(post, 34 + 2 * gid)
        if 3 <= idx <= 97:
            out[gid] = chr(idx + 29)
        elif idx >= 258 and idx - 258 < len(names):
            ch = _glyph_char(names[idx - 258])
            if ch is not None:
                out[gid] = ch
    return out


def _parse_fontfile2(
    font_obj: bytes, objs: dict[int, bytes]
) -> tuple[int, dict[int, str]] | None:
    """Code table recovered from an embedded TrueType program
    (/FontDescriptor -> /FontFile2) when the font ships neither a
    /ToUnicode CMap nor a /Differences array: code -> glyph id via the
    font's own 'cmap' (symbolic fonts checked at code and 0xF000+code),
    glyph id -> character via the 'post' name table. This is the last
    metadata-bearing stop before Latin-1 passthrough; fonts whose only
    mapping is in glyph PROGRAMS (CFF charstrings, TrueType outlines)
    stay out of scope."""
    fd = _FONTDESC_RE.search(font_obj)
    if fd is None:
        return None
    desc = objs.get(int(fd.group(1)))
    if desc is None:
        return None
    ff = _FONTFILE2_RE.search(desc)
    if ff is None:
        return None
    prog_obj = objs.get(int(ff.group(1)))
    if prog_obj is None:
        return None
    prog = _object_stream(prog_obj)
    if prog is None:
        return None
    tables = _ttf_tables(prog)
    cmap, post = tables.get(b"cmap"), tables.get(b"post")
    if cmap is None or post is None:
        return None
    picked = _cmap_best_subtable(cmap)
    if picked is None:
        return None
    sub, code_keyed = picked
    gid_chars = _post_gid_chars(post)
    if not gid_chars:
        return None
    table: dict[int, str] = {}
    for code in range(256):
        gid = _cmap_gid(sub, code)
        if gid == 0 and code_keyed:
            gid = _cmap_gid(sub, 0xF000 | code)  # symbolic-font convention
        ch = gid_chars.get(gid) if gid else None
        if ch is not None:
            table[code] = ch
    return (1, table) if table else None


_FONTFILE3_RE = re.compile(rb"/FontFile3\s+(\d+)\s+\d+\s+R")


def _cff_index(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """One CFF INDEX at `pos`: (items, position after the INDEX).
    Empty INDEX (count 0) is 2 bytes. Malformed sizes yield ([], end)."""
    if pos + 2 > len(data):
        return [], len(data)
    count = _u16(data, pos)
    if count == 0:
        return [], pos + 2
    off_size = data[pos + 2] if pos + 2 < len(data) else 0
    if not 1 <= off_size <= 4:
        return [], len(data)
    opos = pos + 3
    offs = []
    for i in range(count + 1):
        p = opos + i * off_size
        if p + off_size > len(data):
            return [], len(data)
        offs.append(int.from_bytes(data[p : p + off_size], "big"))
    base = opos + (count + 1) * off_size - 1
    items = []
    for a, b in zip(offs, offs[1:]):
        if not (1 <= a <= b and base + b <= len(data)):
            return [], len(data)
        items.append(data[base + a : base + b])
    return items, base + offs[-1]


def _cff_dict_ints(d: bytes) -> dict[int, int]:
    """Top DICT: operator -> last integer operand (the offset/value
    forms the fixture and real subset fonts use). Reals are skipped;
    escaped (12 x) operators are keyed as 1200+x."""
    out: dict[int, int] = {}
    operands: list[int] = []
    i = 0
    while i < len(d):
        b0 = d[i]
        if 32 <= b0 <= 246:
            operands.append(b0 - 139)
            i += 1
        elif 247 <= b0 <= 250:
            operands.append((b0 - 247) * 256 + d[i + 1] + 108) if i + 1 < len(d) else None
            i += 2
        elif 251 <= b0 <= 254:
            operands.append(-(b0 - 251) * 256 - d[i + 1] - 108) if i + 1 < len(d) else None
            i += 2
        elif b0 == 28:
            if i + 2 < len(d):
                v = (d[i + 1] << 8) | d[i + 2]
                operands.append(v - 0x10000 if v >= 0x8000 else v)
            i += 3
        elif b0 == 29:
            if i + 4 < len(d):
                operands.append(int.from_bytes(d[i + 1 : i + 5], "big", signed=True))
            i += 5
        elif b0 == 30:  # real: nibbles until 0xF terminator
            i += 1
            while i < len(d) and d[i] & 0x0F != 0x0F and d[i] >> 4 != 0x0F:
                i += 1
            i += 1
            operands.append(0)
        elif b0 == 12:
            if operands:
                out[1200 + (d[i + 1] if i + 1 < len(d) else 0)] = operands[-1]
            operands = []
            i += 2
        elif b0 <= 21:
            if operands:
                out[b0] = operands[-1]
            operands = []
            i += 1
        else:
            i += 1
    return out


def _cff_sid_char(sid: int, strings: list[bytes]) -> str | None:
    """SID -> character: the standard-strings ASCII block (SID 1..95
    is exactly ASCII 32..126, char = chr(sid + 31)); custom strings
    (SID >= 391) resolve through the glyph-name list. The accented
    block of the standard strings (96..390) stays unmapped — subset
    fonts emit custom names for those."""
    if 1 <= sid <= 95:
        return chr(sid + 31)
    if sid >= 391 and sid - 391 < len(strings):
        return _glyph_char(strings[sid - 391].decode("latin-1"))
    return None


def _parse_fontfile3(
    font_obj: bytes, objs: dict[int, bytes]
) -> tuple[int, dict[int, str]] | None:
    """Code table from an embedded CFF (Type1C) program — /FontFile3:
    the custom Encoding maps code -> glyph id, the charset maps glyph
    id -> SID, and SIDs resolve through the standard strings (ASCII
    block) or the font's String INDEX + glyph-name list. Fonts with a
    predefined (Standard/Expert) encoding return None — their codes
    already read correctly through the Latin-1 passthrough."""
    fd = _FONTDESC_RE.search(font_obj)
    if fd is None:
        return None
    desc = objs.get(int(fd.group(1)))
    if desc is None:
        return None
    ff = _FONTFILE3_RE.search(desc)
    if ff is None:
        return None
    prog_obj = objs.get(int(ff.group(1)))
    if prog_obj is None:
        return None
    cff = _object_stream(prog_obj)
    if cff is None or len(cff) < 4:
        return None
    hdr_size = cff[2]
    pos = hdr_size
    _names, pos = _cff_index(cff, pos)  # Name INDEX
    top_dicts, pos = _cff_index(cff, pos)  # Top DICT INDEX
    strings, _pos = _cff_index(cff, pos)  # String INDEX
    if not top_dicts:
        return None
    top = _cff_dict_ints(top_dicts[0])
    charstrings_off = top.get(17)
    encoding_off = top.get(16, 0)
    charset_off = top.get(15, 0)
    if charstrings_off is None or not 0 <= charstrings_off < len(cff):
        return None
    glyphs, _ = _cff_index(cff, charstrings_off)
    n_glyphs = len(glyphs)
    if n_glyphs == 0:
        return None

    # charset: gid -> SID (gid 0 is .notdef). Offset 0 = ISOAdobe
    # (sid == gid); predefined 1/2 approximated the same way.
    gid_sid = {g: g for g in range(n_glyphs)}
    if charset_off > 2 and charset_off < len(cff):
        fmt = cff[charset_off]
        p = charset_off + 1
        if fmt == 0:
            for g in range(1, n_glyphs):
                if p + 2 > len(cff):
                    break
                gid_sid[g] = _u16(cff, p)
                p += 2
        elif fmt in (1, 2):
            step = 3 if fmt == 1 else 4
            g = 1
            while g < n_glyphs and p + step <= len(cff):
                first = _u16(cff, p)
                n_left = cff[p + 2] if fmt == 1 else _u16(cff, p + 2)
                for k in range(n_left + 1):
                    if g >= n_glyphs:
                        break
                    gid_sid[g] = first + k
                    g += 1
                p += step
        else:
            return None

    # encoding: code -> gid. Only CUSTOM encodings matter here.
    if not 2 < encoding_off < len(cff):
        return None
    fmt = cff[encoding_off]
    code_gid: dict[int, int] = {}
    p = encoding_off + 1
    if fmt & 0x7F == 0:
        n_codes = cff[p] if p < len(cff) else 0
        for g in range(1, min(n_codes, n_glyphs - 1) + 1):
            if p + g >= len(cff):
                break
            code_gid[cff[p + g]] = g
    elif fmt & 0x7F == 1:
        n_ranges = cff[p] if p < len(cff) else 0
        g = 1
        q = p + 1
        for _ in range(n_ranges):
            if q + 2 > len(cff):
                break
            first, n_left = cff[q], cff[q + 1]
            for k in range(n_left + 1):
                if g >= n_glyphs:
                    break
                code_gid[first + k] = g
                g += 1
            q += 2
    else:
        return None

    table: dict[int, str] = {}
    for code, gid in code_gid.items():
        ch = _cff_sid_char(gid_sid.get(gid, 0), strings)
        if ch is not None:
            table[code] = ch
    return (1, table) if table else None


def _font_cmaps(data: bytes) -> dict[bytes, tuple[int, dict[int, str]]]:
    """Resource font name (b"F1") -> code table, for every font
    reachable from a /Resources /Font dict: the /ToUnicode CMap when
    the font has one, else its /Encoding /Differences array resolved
    through the glyph-name list, else the embedded font program —
    TrueType cmap+post (FontFile2) or CFF Encoding+charset+strings
    (FontFile3/Type1C). Precedence: ToUnicode is authoritative, then
    Differences, then the font program."""
    if (
        b"/ToUnicode" not in data
        and b"/Differences" not in data
        and b"/FontFile2" not in data
        and b"/FontFile3" not in data
        and b"/ObjStm" not in data  # compressed members may hold any of the above
    ):
        return {}
    objs = _object_bodies(data)
    out: dict[bytes, tuple[int, dict[int, str]]] = {}
    for fd in _FONT_DICT_RE.finditer(data):
        for name, objnum in _FONT_ENTRY_RE.findall(fd.group(1)):
            if name in out:
                continue
            font_obj = objs.get(int(objnum))
            if font_obj is None:
                continue
            tu = _TOUNICODE_RE.search(font_obj)
            if tu is not None:
                cmap_obj = objs.get(int(tu.group(1)))
                if cmap_obj is not None:
                    stream = _object_stream(cmap_obj)
                    if stream is not None:
                        parsed = _parse_cmap(stream)
                        if parsed is not None:
                            out[name] = parsed
                            continue
            parsed = _parse_differences(font_obj, objs)
            if parsed is None:
                parsed = _parse_fontfile2(font_obj, objs)
            if parsed is None:
                parsed = _parse_fontfile3(font_obj, objs)
            if parsed is not None:
                out[name] = parsed
    return out


def _decode_with_cmap(bs: bytes, cmap: tuple[int, dict[int, str]]) -> str:
    width, table = cmap
    if width == 1:
        # unmapped bytes keep the Latin-1 fallback (partial subsets)
        return "".join(table.get(b, chr(b)) for b in bs)
    out = []
    for i in range(0, len(bs) - 1, 2):
        code = (bs[i] << 8) | bs[i + 1]
        out.append(table.get(code, "�"))
    return "".join(out)


_LIT_SPECIAL_RE = re.compile(rb"[\\()]")


def _lit_string(b: bytes, i: int) -> tuple[bytes, int]:
    """Parse a literal string starting at the '(' byte; returns
    (raw bytes, index past the closing paren).

    Scans by jumping between the three special bytes (backslash and
    the parens) with one compiled regex search and bulk-slicing the
    plain runs in between — byte-identical output to the original
    per-byte walk at a fraction of the interpreter cost (plain text
    dominates real content streams)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(b)
    while i < n:
        m = _LIT_SPECIAL_RE.search(b, i)
        if m is None:
            out += b[i:]
            i = n
            break
        j = m.start()
        if j > i:
            out += b[i:j]
        i = j
        c = b[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c2 = b[i]
            if c2 in _ESCAPES:
                out.append(_ESCAPES[c2])
                i += 1
            elif 0x30 <= c2 <= 0x37:  # up to 3 octal digits
                val, k = 0, 0
                while k < 3 and i < n and 0x30 <= b[i] <= 0x37:
                    val = val * 8 + (b[i] - 0x30)
                    i += 1
                    k += 1
                out.append(val & 0xFF)
            elif c2 in (0x0A, 0x0D):  # line continuation
                i += 1
                if c2 == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself
                out.append(c2)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        else:  # c == 0x29
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
    return bytes(out), i


def _hex_string(b: bytes, i: int) -> tuple[bytes, int]:
    """Parse a hex string starting at the '<' byte."""
    j = b.find(b">", i + 1)
    if j == -1:
        j = len(b)
    digits = bytes(c for c in b[i + 1 : j] if c not in b" \t\r\n\f\0")
    if len(digits) % 2:
        digits += b"0"
    try:
        raw = bytes.fromhex(digits.decode("ascii"))
    except ValueError:
        raw = b""
    return raw, j + 1


# ----------------------------------------------------- text-object machine


class _Line:
    __slots__ = ("x", "y", "size", "parts")

    def __init__(self, x: float, y: float, size: float):
        self.x, self.y, self.size = x, y, size
        self.parts: list[str] = []


def _runs(
    content: bytes,
    font_cmaps: dict[bytes, tuple[int, dict[int, str]]] | None = None,
) -> list[list[_Line]]:
    """Execute the content stream's text operators; one list of lines
    per BT..ET object. ``font_cmaps`` maps resource font names to
    parsed ToUnicode CMaps: ``/Fx size Tf`` switches the active string
    decoder to that font's CMap (None -> UTF-16BE-BOM/Latin-1)."""
    objs: list[list[_Line]] = []
    lines: list[_Line] | None = None
    cur: _Line | None = None
    st: list = []  # operand stack (floats / bytes / list)
    arr: list | None = None  # open [ ... ] accumulator
    size = tf = 12.0
    scale = 1.0
    leading = 0.0
    lx = ly = 0.0
    last_name: bytes | None = None  # most recent /name token (Tf operand)
    cmap: tuple[int, dict[int, str]] | None = None

    def decode(raw: bytes) -> str:
        return _decode_with_cmap(raw, cmap) if cmap is not None else _decode_string(raw)

    def show(raw: bytes) -> None:
        nonlocal cur
        if lines is None:
            return
        if cur is None or cur.x != lx or cur.y != ly:
            cur = _Line(lx, ly, size)
            lines.append(cur)
        cur.parts.append(decode(raw))

    i = 0
    n = len(content)
    while i < n:
        c = content[i]
        if c in b" \t\r\n\f\0":
            i += 1
        elif c == 0x28:  # (
            raw, i = _lit_string(content, i)
            (arr if arr is not None else st).append(raw)
        elif c == 0x3C:  # < : hex string or dict
            if content[i + 1 : i + 2] == b"<":
                j = content.find(b">>", i + 2)
                i = n if j == -1 else j + 2  # inline dicts are skipped
            else:
                raw, i = _hex_string(content, i)
                (arr if arr is not None else st).append(raw)
        elif c == 0x5B:  # [
            arr = []
            i += 1
        elif c == 0x5D:  # ]
            st.append(arr if arr is not None else [])
            arr = None
            i += 1
        elif c == 0x2F:  # /name
            j = i + 1
            while j < n and content[j] not in b" \t\r\n\f\0()<>[]{}/%":
                j += 1
            last_name = content[i + 1 : j]
            i = j
        elif c == 0x25:  # % comment to EOL
            j = content.find(b"\n", i)
            i = n if j == -1 else j + 1
        else:
            # first-byte dispatch: a number starts with 0-9 + - . and an
            # operator with a letter/'/" — the classes are disjoint, so
            # each token needs exactly ONE regex probe (the old
            # "matches _NUM_RE and not _OP_RE" guard was vacuously true
            # and cost a second match per numeric token)
            if 0x30 <= c <= 0x39 or c == 0x2B or c == 0x2D or c == 0x2E:
                m = _NUM_RE.match(content, i)
                if m is not None:
                    (arr if arr is not None else st).append(float(m.group(0)))
                    i = m.end()
                else:
                    i += 1
                continue
            m = _OP_RE.match(content, i)
            if m is None:
                i += 1
                continue
            op = m.group(0)
            i = m.end()
            if op == b"BI":
                # inline image: raw binary follows ID up to a
                # whitespace-delimited EI — skipped wholesale so image
                # bytes can never alias string/operator syntax
                j = content.find(b"ID", i)
                if j == -1:
                    i = n
                else:
                    k = content.find(b"EI", j + 2)
                    while k != -1 and content[k - 1 : k] not in (
                        b" ", b"\t", b"\r", b"\n", b"\0",
                    ):
                        k = content.find(b"EI", k + 2)
                    i = n if k == -1 else k + 2
            elif op == b"BT":
                lines = []
                cur = None
                lx = ly = 0.0
                scale = 1.0
                size = tf
            elif op == b"ET":
                if lines:
                    objs.append(lines)
                lines = None
                cur = None
            elif op == b"Tf" and st:
                try:
                    tf = float(st[-1])
                except _NOT_NUMERIC:
                    pass
                else:
                    size = tf * scale
                    if font_cmaps:
                        cmap = font_cmaps.get(last_name)
            elif op == b"TL" and st:
                try:
                    leading = float(st[-1])
                except _NOT_NUMERIC:
                    pass
            elif op in (b"Td", b"TD") and len(st) >= 2:
                try:
                    tx, ty = float(st[-2]), float(st[-1])
                except _NOT_NUMERIC:
                    pass
                else:
                    lx += tx
                    ly += ty
                    cur = None
                    if op == b"TD":
                        leading = -ty
            elif op == b"Tm" and len(st) >= 6:
                try:
                    sx, tx, ty = float(st[-3]), float(st[-2]), float(st[-1])
                except _NOT_NUMERIC:
                    pass
                else:
                    scale = sx or 1.0
                    lx, ly = tx, ty
                    size = tf * scale
                    cur = None
            elif op == b"T*":
                ly -= leading
                cur = None
            elif op == b"Tj" and st and isinstance(st[-1], bytes):
                show(st[-1])
            elif op == b"'" and st and isinstance(st[-1], bytes):
                ly -= leading
                cur = None
                show(st[-1])
            elif op == b'"' and st and isinstance(st[-1], bytes):
                ly -= leading
                cur = None
                show(st[-1])
            elif op == b"TJ" and st and isinstance(st[-1], list):
                pieces: list[str] = []
                for item in st[-1]:
                    if isinstance(item, bytes):
                        pieces.append(decode(item))
                    elif isinstance(item, float) and item <= _TJ_SPACE_THRESHOLD:
                        pieces.append(" ")
                show_text = "".join(pieces)
                if show_text:
                    if lines is None:
                        pass
                    else:
                        if cur is None or cur.x != lx or cur.y != ly:
                            cur = _Line(lx, ly, size)
                            lines.append(cur)
                        cur.parts.append(show_text)
            st.clear()
    return objs


# -------------------------------------------------------------- assembly


def tokenize_pdf(data: bytes) -> list[Block]:
    """Parse a PDF into Blocks in content order; reading_order()'s
    XY-cut then restores layout order exactly as it does for
    absolutely-positioned HTML (the shared layout pass)."""
    data = decrypt_pdf(data)
    m = _MEDIABOX_RE.search(data)
    try:
        page_h = float(m.group(4)) - float(m.group(2)) if m else _DEFAULT_PAGE_H
    except ValueError:  # a malformed number such as "1.2.3" or "."
        page_h = _DEFAULT_PAGE_H
    if page_h <= 0:
        page_h = _DEFAULT_PAGE_H
    band = page_h + _PAGE_BAND_GAP
    font_cmaps = _font_cmaps(data)
    blocks: list[Block] = []
    for si, content in enumerate(_content_streams(data)):
        y_off = si * band
        for lines in _runs(content, font_cmaps):
            texts = []
            for ln in lines:
                t = " ".join("".join(ln.parts).split())
                if t:
                    texts.append((ln, t))
            if not texts:
                continue
            text = " ".join(t for _ln, t in texts)
            size_max = max(ln.size for ln, _t in texts)
            x0 = min(ln.x for ln, _t in texts)
            y_min = min(ln.y for ln, _t in texts)
            y_max = max(ln.y for ln, _t in texts)
            width = max(len(t) * ln.size * _CHAR_WIDTH_EM for ln, t in texts)
            blocks.append(
                make_block(
                    text,
                    ("pdf",),
                    "title" if size_max >= TITLE_MIN_SIZE else "text",
                    box=(
                        int(x0),
                        int(y_off + page_h - (y_max + size_max)),
                        max(1, int(width)),
                        max(1, int(y_max - y_min + size_max)),
                    ),
                )
            )
    for i, b in enumerate(blocks):
        b.ordinal = i
    return blocks


_URI_RE = re.compile(rb"/URI\s*\(")


def pdf_links(data: bytes) -> list[str]:
    """Outbound URI actions (/Annots link annotations and any other
    /URI action) in file order, duplicates preserved — the PDF leg of
    outlink extraction (q42's html href pass is the twin). Members of
    compressed object streams are included (a modern writer puts
    annotation dicts there). Strings are unescaped through the same
    literal-string reader the text machine uses. Encrypted files:
    ObjStm members arrive plaintext via the stream pre-pass (spec —
    members are never separately encrypted); TOP-LEVEL /URI strings
    are RC4'd individually, so they decrypt on demand with their
    enclosing object's key."""
    original = data
    data = decrypt_pdf(data)
    encrypted = data is not original and original is not None
    # ObjStm member bytes exist only inflated, so scanning the raw file
    # plus the inflated members double-counts nothing; identical URIs
    # may legitimately repeat (two links to the same target).
    # Top-level strings scan the ORIGINAL file: their ciphertext sits
    # there at valid offsets for the on-demand decrypt — the AES
    # rebuild SHIFTS offsets (lengths change), so positions found in
    # the decrypted bytes would dereference the wrong original span
    # (RC4's in-place pass made the two coincide by luck of length
    # preservation)
    sources = [(original, True)]
    if b"/ObjStm" in data:
        # only TRUE ObjStm members: top-level objects are already
        # covered by the raw scan (re-adding them double-counted a
        # top-level URI whenever any ObjStm was present)
        top_nums = {int(m.group(1)) for m in _OBJ_RE.finditer(data)}
        sources += [
            (body, False)
            for num, body in _object_bodies(data).items()
            if num not in top_nums and b"stream" not in body
        ]
    out: list[str] = []
    for src, top_level in sources:
        for m in _URI_RE.finditer(src):
            raw, _end = _lit_string(src, m.end() - 1)
            if encrypted and top_level:
                dec = _decrypt_string_at(original, m.end() - 1)
                if dec is None:
                    continue  # unsupported scheme: skip, never garbage
                raw = dec
            try:
                out.append(raw.decode("utf-8"))
            except UnicodeDecodeError:
                out.append(raw.decode("latin-1"))
    return out
