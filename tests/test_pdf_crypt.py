"""Encrypted PDFs (standard security handler, empty user password) —
RC4 (/V 1-2) and AES-128-CBC (/V 4 /CFM /AESV2) — decrypt to the same
node stream as their plaintext twins.

The ciphertext comes from :func:`datagen.encrypt_pdf` — an
INDEPENDENT implementation of the public ISO 32000-1 algorithms (its
own RC4, its own AES forward cipher built from a Fermat-inverse S-box,
its own Algorithm-2 key derivation, its own object walk) — so every
round trip here cross-validates two separate codebases against the
spec: a key-derivation bug in ``pdf_parse.build_decryptor`` would have
to be reproduced identically in datagen to pass.  The AES cores are
additionally pinned one-sidedly to the published FIPS-197 appendix-C
vector, so the pair cannot even agree on a wrong cipher."""

from page_segmentation_spark.datagen import (
    build_cid_pdf,
    build_pdf,
    build_xref_pdf,
    encrypt_pdf,
)
from page_segmentation_spark.pdf_parse import build_decryptor, parse_pdf

_BLOCKS = [
    (24, "Encrypted title here"),
    (11, "Body paragraph that survives (with parens) and a \\ backslash"),
]


def test_rc4_roundtrip_plain_stream():
    plain = build_pdf(_BLOCKS)
    enc = encrypt_pdf(plain)
    assert b"Encrypted title here" not in enc  # actually ciphered
    nodes = parse_pdf(plain)
    assert parse_pdf(enc) == nodes
    assert [n["text"] for n in nodes] == [b[1] for b in _BLOCKS]


def test_rc4_roundtrip_flate_stream():
    # PDF order: compress THEN encrypt (RC4 wraps the stored bytes)
    plain = build_pdf(_BLOCKS, compress=True)
    nodes = parse_pdf(plain)
    assert parse_pdf(encrypt_pdf(plain)) == nodes
    assert nodes and nodes[0]["tag"] == "h1"


def test_rc4_r2_40bit():
    plain = build_pdf(_BLOCKS)
    assert parse_pdf(encrypt_pdf(plain, v=1, r=2, nbits=40)) == parse_pdf(
        plain
    )


def test_rc4_key_parameters_matter():
    # different /O or /ID must yield different ciphertext (i.e. the
    # derivation actually consumes its inputs on both sides)
    plain = build_pdf(_BLOCKS)
    a = encrypt_pdf(plain)
    b = encrypt_pdf(plain, owner_entry=bytes(range(0x40, 0x60)))
    c = encrypt_pdf(plain, file_id=bytes(16))
    assert a != b and a != c and b != c
    assert parse_pdf(a) == parse_pdf(b) == parse_pdf(c) == parse_pdf(plain)


def test_rc4_encrypted_cid_cmap():
    # the /ToUnicode CMap stream is encrypted too — font_cmaps must
    # decrypt it with the CMap object's OWN per-object key
    blocks = [(24, "Café titre"), (11, "corps du texte ascii")]
    plain = build_cid_pdf(blocks)
    nodes = parse_pdf(plain)
    assert [n["text"] for n in nodes] == ["Café titre", "corps du texte ascii"]
    assert parse_pdf(encrypt_pdf(plain)) == nodes


def test_rc4_encrypted_objstm_and_xref():
    # ObjStm payloads and xref-stream resolution under encryption: the
    # packed objects decrypt with the ObjStm object's key, and xref
    # offsets stay valid because RC4 preserves length
    plain_objstm = build_cid_pdf(
        [(24, "Titre"), (11, "corps ascii")], objstm=True
    )
    assert parse_pdf(encrypt_pdf(plain_objstm)) == parse_pdf(plain_objstm)

    plain_xref = build_xref_pdf(_BLOCKS, xref_stream=True, form_xobject=True)
    nodes = parse_pdf(plain_xref)
    assert [n["text"] for n in nodes] == [b[1] for b in _BLOCKS]
    assert parse_pdf(encrypt_pdf(plain_xref)) == nodes


def test_unsupported_handler_never_raises():
    # /V 4 WITHOUT an /AESV2 crypt filter (e.g. /CFM /AESV3 or a bare
    # V bump) is out of scope: parse degrades, never errors
    enc = encrypt_pdf(build_pdf(_BLOCKS))
    aes = enc.replace(b"/V 2", b"/V 4")
    assert build_decryptor(aes) is None
    assert isinstance(parse_pdf(aes), list)


# -- AES-128 (/V 4 /CFM /AESV2) ------------------------------------------

_FIPS_KEY = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
_FIPS_PT = bytes.fromhex("00112233445566778899aabbccddeeff")
_FIPS_CT = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")


def test_aes_cores_match_fips197_vector():
    # datagen's forward cipher and pdf_parse's inverse cipher are
    # INDEPENDENT implementations; the published appendix-C vector
    # pins each side separately (not just to each other)
    from page_segmentation_spark.datagen import _enc_block, _enc_round_keys
    from page_segmentation_spark.pdf_parse import _aes_cbc_decrypt

    assert _enc_block(_enc_round_keys(_FIPS_KEY), _FIPS_PT) == _FIPS_CT
    # drive the decryptor through its public CBC shape with a zero IV:
    # plaintext block = D(ct) ^ IV = D(ct); pad the "document" so the
    # PKCS#7 strip removes a whole synthetic second block
    import hashlib

    from page_segmentation_spark.datagen import _enc_aes_cbc

    iv = bytes(16)
    ct = _enc_aes_cbc(_FIPS_KEY, iv, _FIPS_PT)
    assert ct[:16] == _FIPS_CT  # first CBC block with zero IV == ECB
    assert _aes_cbc_decrypt(_FIPS_KEY, iv + ct) == _FIPS_PT
    assert hashlib.md5(ct).hexdigest()  # ciphertext deterministic


def test_aesv2_roundtrip_plain_stream():
    plain = build_pdf(_BLOCKS)
    enc = encrypt_pdf(plain, v=4, r=4)
    assert b"Encrypted title here" not in enc  # actually ciphered
    assert parse_pdf(enc) == parse_pdf(plain)


def test_aesv2_roundtrip_flate_stream():
    # PDF order: compress THEN encrypt (AES wraps the stored bytes)
    plain = build_pdf(_BLOCKS, compress=True)
    assert parse_pdf(encrypt_pdf(plain, v=4, r=4)) == parse_pdf(plain)


def test_aesv2_roundtrip_cid_cmap():
    # /ToUnicode CMap streams decrypt with their own per-object AES key
    blocks = [(24, "Café titre"), (11, "corps du texte ascii")]
    plain = build_cid_pdf(blocks)
    nodes = parse_pdf(plain)
    assert [n["text"] for n in nodes] == ["Café titre", "corps du texte ascii"]
    assert parse_pdf(encrypt_pdf(plain, v=4, r=4)) == nodes


def test_aesv2_roundtrip_objstm():
    # objects packed in an /ObjStm decrypt with the ObjStm's key; the
    # re-serialized xref table must still resolve every object
    plain = build_cid_pdf([(24, "Titre"), (11, "corps ascii")], objstm=True)
    assert parse_pdf(encrypt_pdf(plain, v=4, r=4)) == parse_pdf(plain)


def test_aesv2_key_parameters_matter():
    plain = build_pdf(_BLOCKS)
    a = encrypt_pdf(plain, v=4, r=4)
    b = encrypt_pdf(plain, v=4, r=4, owner_entry=bytes(range(0x40, 0x60)))
    c = encrypt_pdf(plain, v=4, r=4, file_id=bytes(16))
    assert a != b and a != c and b != c
    assert parse_pdf(a) == parse_pdf(b) == parse_pdf(c) == parse_pdf(plain)


def test_aesv2_padding_multiple_of_16():
    # a payload already 16-aligned must gain (and then shed) a full
    # PKCS#7 pad block — the classic off-by-one-block bug
    from page_segmentation_spark.datagen import _enc_aes_cbc
    from page_segmentation_spark.pdf_parse import _aes_cbc_decrypt

    key = bytes(range(16))
    iv = bytes(range(100, 116))
    for n in (0, 16, 32, 15, 17):
        pt = bytes(range(40, 40 + n))
        ct = _enc_aes_cbc(key, iv, pt)
        assert len(ct) % 16 == 0 and len(ct) >= n + 1
        assert _aes_cbc_decrypt(key, iv + ct) == pt


def test_aes_malformed_payload_degrades():
    # ragged / short payloads return bytes, never raise
    from page_segmentation_spark.pdf_parse import _aes_cbc_decrypt

    key = bytes(16)
    assert _aes_cbc_decrypt(key, b"short") == b"short"
    assert _aes_cbc_decrypt(key, bytes(33)) == bytes(33)


def test_unencrypted_files_unaffected():
    assert build_decryptor(build_pdf(_BLOCKS)) is None


def _texts(nodes):
    return [n["text"] for n in nodes]


# ---- AES-256 /V 5 /CFM /AESV3 (ISO 32000-2, R 5 draft + R 6) ----------

_FIPS256_KEY = bytes.fromhex(
    "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
)
_FIPS256_CT = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")


def test_aes256_cores_match_fips197_vector():
    """FIPS-197 appendix-C.3 pins BOTH independent AES-256 cores (the
    generalized Nk=8 key schedules), not just their mutual agreement."""
    from page_segmentation_spark.datagen import _enc_block, _enc_round_keys
    from page_segmentation_spark.pdf_parse import _aes_cbc_core

    assert _enc_block(_enc_round_keys(_FIPS256_KEY), _FIPS_PT) == _FIPS256_CT
    # inverse: one block with zero IV == raw ECB decrypt
    assert _aes_cbc_core(_FIPS256_KEY, bytes(16), _FIPS256_CT) == _FIPS_PT


def test_hash_2b_cross_validation():
    """The two INDEPENDENT Algorithm-2.B implementations (pdf_parse for
    decryption, datagen for fixture generation) must agree — with and
    without the owner-path udata suffix."""
    from page_segmentation_spark.datagen import _enc_hash_2b
    from page_segmentation_spark.pdf_parse import _hash_2b

    salt = b"\x01\x23\x45\x67\x89\xab\xcd\xef"
    assert _hash_2b(b"", salt) == _enc_hash_2b(b"", salt)
    assert _hash_2b(b"", salt, b"U" * 48) == _enc_hash_2b(b"", salt, b"U" * 48)


def test_aesv3_r6_roundtrip_flate_stream():
    plain = build_pdf(_BLOCKS, compress=True)
    enc = encrypt_pdf(plain, v=5, r=6)
    assert b"/AESV3" in enc and b"/UE <" in enc
    d = build_decryptor(enc)
    assert d is not None and d.v5 and len(d.key) == 32
    assert _texts(parse_pdf(enc)) == _texts(parse_pdf(plain))


def test_aesv3_r5_roundtrip_plain_stream():
    plain = build_pdf(_BLOCKS)
    enc = encrypt_pdf(plain, v=5, r=5)
    assert b"Encrypted title here" not in enc
    assert _texts(parse_pdf(enc)) == _texts(parse_pdf(plain))


def test_aesv3_r5_key_parameters_matter():
    """A different /ID derives different salts/keys — ciphertexts
    diverge but both still decrypt (the /U//UE wrap is self-contained)."""
    plain = build_pdf(_BLOCKS)
    a = encrypt_pdf(plain, v=5, r=5)
    b = encrypt_pdf(
        plain, v=5, r=5,
        file_id=bytes.fromhex("ffeeddccbbaa99887766554433221100"),
    )
    assert a != b
    assert _texts(parse_pdf(a)) == _texts(parse_pdf(b)) == _texts(
        parse_pdf(plain)
    )


# ---- decryptor edge branches (ADVICE round-4 findings) -----------------


def test_encrypt_metadata_false_key_suffix():
    """R>=4 with /EncryptMetadata false appends FF FF FF FF to the
    Algorithm-2 md5 input; both sides implement it independently, so
    the round trip fails if either forgets."""
    plain = build_pdf(_BLOCKS)
    enc = encrypt_pdf(plain, v=4, r=4, encrypt_metadata=False)
    assert b"/EncryptMetadata false" in enc
    assert _texts(parse_pdf(enc)) == _texts(parse_pdf(plain))


def test_literal_string_file_id():
    """A literal-string /ID [(...) (...)] must feed the key derivation
    the same bytes as the hex form (previously it silently became b''
    and produced garbled output)."""
    plain = build_pdf(_BLOCKS)
    hex_form = encrypt_pdf(plain, v=2, r=3)
    lit_form = encrypt_pdf(plain, v=2, r=3, id_literal=True)
    assert b"/ID [(" in lit_form
    assert _texts(parse_pdf(lit_form)) == _texts(parse_pdf(hex_form))
    # escaping path: an /ID containing the three string specials
    tricky = encrypt_pdf(
        plain, v=2, r=3, id_literal=True,
        file_id=b"\x28\x29\x5c" + bytes(range(13)),
    )
    assert _texts(parse_pdf(tricky)) == _texts(parse_pdf(plain))


def test_stmf_identity_means_streams_unencrypted():
    """/StmF /Identity: streams are NOT encrypted — the decryptor must
    return None (parse without decryption), not derive a key and emit
    garbage."""
    plain = build_pdf(_BLOCKS)
    tail = (
        b"90 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 "
        b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
        b"/StmF /Identity /StrF /StdCF "
        b"/O <" + b"a0" * 32 + b"> /U <" + b"a0" * 32 + b"> "
        b"/P -44 >>\nendobj\n"
        b"trailer\n<< /Encrypt 90 0 R /ID [<00112233445566778899aabbccddeeff>"
        b" <00112233445566778899aabbccddeeff>] >>\n%%EOF\n"
    )
    doc = plain + tail
    assert build_decryptor(doc) is None
    assert _texts(parse_pdf(doc)) == _texts(parse_pdf(plain))


def test_stmf_custom_filter_degrades_to_none():
    """An unknown named /StmF crypt filter cannot be honored — degrade
    (None) instead of decrypting with a wrong key into plausible-looking
    garbage."""
    plain = build_pdf(_BLOCKS)
    enc = encrypt_pdf(plain, v=4, r=4)
    tampered = enc.replace(b"/StmF /StdCF", b"/StmF /MyCF")
    assert tampered != enc
    assert build_decryptor(tampered) is None


def test_password_protected_roundtrips_all_handlers():
    """Non-empty USER password across every supported handler: the right
    password recovers the plaintext node stream; no password (or a
    wrong one) degrades to None/visible-ops — never garbled text from a
    wrongly-derived key (the /U validation contract)."""
    plain = build_pdf(_BLOCKS)
    nodes = parse_pdf(plain)
    pw = b"hunter2 \xc3\xa9"  # non-ASCII byte content exercised too
    for v, r in ((1, 2), (2, 3), (4, 4), (5, 5), (5, 6)):
        enc = encrypt_pdf(plain, v=v, r=r, password=pw)
        assert parse_pdf(enc, password=pw) == nodes, (v, r)
        # wrong / missing password: decryptor refuses (degrades)
        assert build_decryptor(enc) is None, (v, r)
        assert build_decryptor(enc, b"wrong") is None, (v, r)
        got = parse_pdf(enc)  # whatever-is-visible, never an exception
        assert [n["text"] for n in got] != [n["text"] for n in nodes]


def test_password_supplied_but_file_is_empty_password():
    """A supplied password on an ordinary owner-locked (empty user
    password) file must still open it — the empty password is always a
    fallback candidate."""
    plain = build_pdf(_BLOCKS)
    for v, r in ((2, 3), (4, 4), (5, 6)):
        enc = encrypt_pdf(plain, v=v, r=r)  # empty user password
        assert parse_pdf(enc, password=b"whatever") == parse_pdf(plain)


def test_u_validation_rejects_tampered_u():
    """RC4/AES-128 files now carry a REAL Algorithm-5 /U; corrupting it
    makes every candidate key fail validation -> None (degrade), not a
    silently-wrong key."""
    enc = encrypt_pdf(build_pdf(_BLOCKS), v=2, r=3)
    assert build_decryptor(enc) is not None
    import re as _re

    m = _re.search(rb"/U <([0-9a-f]+)>", enc)
    bad = enc[: m.start(1)] + b"00" * 32 + enc[m.end(1):]
    assert build_decryptor(bad) is None


def test_extract_settings_pdf_password_mirror():
    """ExtractSettings.pdf_password reaches oracle.extract_document (the
    extraction plan's kernel runs the same chain with the same
    settings)."""
    from page_segmentation_spark.config import ExtractSettings
    from page_segmentation_spark.oracle import extract_document

    plain = build_pdf(
        [(24, "Locked Title"), (11, "Locked body with enough words here")]
    )
    enc = encrypt_pdf(plain, v=4, r=4, password=b"s3cret")
    want = extract_document(plain)["extracted_text"]
    got = extract_document(enc, ExtractSettings(pdf_password="s3cret"))
    assert got["extracted_text"] == want
    assert want  # non-vacuous
    # without the password: degraded, not equal
    assert extract_document(enc)["extracted_text"] != want
