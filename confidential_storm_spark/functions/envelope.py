"""AEAD envelope functions (SURVEY §2.3 P7-P11, §1.2 EncryptedValue).

The reference seals every value crossing an operator boundary as
``EncryptedValue(associatedData, nonce[12], ciphertext)`` with
AES-256-GCM or ChaCha20-Poly1305 and a sorted-key JSON AAD carrying
``(source, destination, producer_id, seq, epoch)``
(SealedPayload.java:126-210, EncryptedValue.java:16-45).

Spark mapping: ``aes_encrypt(..., 'GCM', aad)`` is a built-in (JVM,
codegen); its output layout is ``iv(12) || ciphertext || tag(16)``, so
the envelope struct splits it into the reference's (nonce, ciphertext)
fields losslessly.  ChaCha20-Poly1305 has no JVM built-in — it is
stubbed behind an import-try of the ``cryptography`` package (not in
this container) with the same envelope schema.  Scheme NONE passes
plaintext through unchanged (EncryptionScheme.java:28).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "aad_json",
    "seal",
    "open_sealed",
    "seal_none",
    "open_none",
    "verify_consistency",
    "SCHEME_AES_GCM",
    "SCHEME_CHACHA20",
    "SCHEME_NONE",
]

SCHEME_AES_GCM = "AES_GCM"
SCHEME_CHACHA20 = "CHACHA20_POLY1305"
SCHEME_NONE = "NONE"

_NONCE_LEN = 12  # GCM IV length, EncryptedValue.java:16-45


def aad_json(
    source: Column,
    destination: Column,
    producer_id: Column,
    seq: Column,
    epoch: Column,
) -> Column:
    """Sorted-key JSON AAD (SealedPayload.java:189-210 serializes AAD
    attributes with sorted keys; a struct declared in alphabetical
    field order reproduces the byte-identical JSON)."""
    return F.to_json(
        F.struct(
            destination.cast("string").alias("destination"),
            epoch.cast("string").alias("epoch"),
            producer_id.cast("string").alias("producer_id"),
            seq.cast("string").alias("seq"),
            source.cast("string").alias("source"),
        )
    )


def seal(plaintext: Column, key: Column, aad: Column) -> Column:
    """P7: AEAD-seal to the envelope struct
    ``(aad STRING, nonce BINARY, ciphertext BINARY)``.

    ``aes_encrypt`` emits iv||ct||tag; the struct keeps the reference's
    field separation.  ``key`` must be 16/24/32 bytes (AES-128/192/256).
    """
    # numeric payloads serialize via their canonical string form (ANSI
    # mode forbids numeric->binary casts; the reference serializes
    # typed payloads explicitly too, ConfidentialBoltService.java:320-347)
    sealed = F.aes_encrypt(
        plaintext.cast("string").cast("binary"),
        key,
        F.lit("GCM"),
        F.lit("DEFAULT"),
        F.lit(b""),
        aad.cast("binary"),
    )
    return F.struct(
        aad.alias("aad"),
        F.substring(sealed, 1, _NONCE_LEN).alias("nonce"),
        F.substring(sealed, _NONCE_LEN + 1, 2_147_483_647).alias("ciphertext"),
    )


def open_sealed(envelope: Column, key: Column, cast_to: str = "string") -> Column:
    """P8: AEAD-open an envelope struct; fails the task on tampered
    ciphertext/AAD (use :func:`try_open_sealed` for null-on-failure)."""
    plain = F.aes_decrypt(
        F.concat(envelope.getField("nonce"), envelope.getField("ciphertext")),
        key,
        F.lit("GCM"),
        F.lit("DEFAULT"),
        envelope.getField("aad").cast("binary"),
    )
    return plain.cast("string").cast(cast_to)


def try_open_sealed(envelope: Column, key: Column) -> Column:
    """P8 (lenient): returns NULL instead of failing on bad tag/AAD —
    the filterable form of the reference's verify-reject path."""
    plain = F.try_aes_decrypt(
        F.concat(envelope.getField("nonce"), envelope.getField("ciphertext")),
        key,
        F.lit("GCM"),
        F.lit("DEFAULT"),
        envelope.getField("aad").cast("binary"),
    )
    return plain.cast("string")


def seal_none(plaintext: Column, aad: Column) -> Column:
    """Scheme NONE: same envelope schema, plaintext passthrough
    (SealedPayload.java:81-86,130-133)."""
    return F.struct(
        aad.alias("aad"),
        F.lit(b"").cast("binary").alias("nonce"),
        plaintext.cast("string").cast("binary").alias("ciphertext"),
    )


def open_none(envelope: Column) -> Column:
    return envelope.getField("ciphertext").cast("string")


def verify_consistency(df: DataFrame, envelope_cols: list[str]) -> DataFrame:
    """V3: all encrypted fields of one row must carry the same
    (producer_id, seq) in their AADs (ConfidentialBoltService.java:244-261)."""
    if len(envelope_cols) < 2:
        return df
    first = F.from_json(
        F.col(envelope_cols[0]).getField("aad"), "producer_id string, seq string"
    )
    cond = F.lit(True)
    for c in envelope_cols[1:]:
        other = F.from_json(F.col(c).getField("aad"), "producer_id string, seq string")
        cond = (
            cond
            & (first.getField("producer_id") == other.getField("producer_id"))
            & (first.getField("seq") == other.getField("seq"))
        )
    return df.filter(cond)


def _require_chacha20():
    try:
        from cryptography.hazmat.primitives.ciphers.aead import ChaCha20Poly1305
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "ChaCha20-Poly1305 needs the 'cryptography' package; "
            "use SCHEME_AES_GCM (built-in) or SCHEME_NONE"
        ) from exc
    return ChaCha20Poly1305


def chacha20_seal(plaintext: Column, key: bytes, aad: Column) -> Column:
    """ChaCha20-Poly1305 scheme (EncryptionScheme.java:8-28): same
    envelope schema as AES-GCM, different AEAD cipher.  No JVM builtin
    exists, so this is an Arrow-batched Python UDF (the reference also
    treats the scheme as the pluggable slow path).  Nonces are drawn
    from ``os.urandom`` per row.  ``key`` must be 32 bytes."""
    ChaCha20Poly1305 = _require_chacha20()
    if len(key) != 32:
        raise ValueError("ChaCha20-Poly1305 requires a 32-byte key")

    def seal_batch(pt: pd.Series, aads: pd.Series) -> pd.Series:
        # import inside the worker: the pyo3 class does not survive
        # cloudpickle closure capture
        from cryptography.hazmat.primitives.ciphers.aead import ChaCha20Poly1305

        cipher = ChaCha20Poly1305(key)
        out = []
        for p, a in zip(pt, aads):
            nonce = os.urandom(_NONCE_LEN)
            out.append(nonce + cipher.encrypt(nonce, str(p).encode(), a.encode()))
        return pd.Series(out)

    udf = pandas_udf(seal_batch, "binary")
    sealed = udf(plaintext.cast("string"), aad)
    return F.struct(
        aad.alias("aad"),
        F.substring(sealed, 1, _NONCE_LEN).alias("nonce"),
        F.substring(sealed, _NONCE_LEN + 1, 2_147_483_647).alias("ciphertext"),
    )


def chacha20_open(envelope: Column, key: bytes) -> Column:
    """Open a ChaCha20-Poly1305 envelope; NULL on tamper (lenient,
    like :func:`try_open_sealed`)."""
    ChaCha20Poly1305 = _require_chacha20()
    if len(key) != 32:
        raise ValueError("ChaCha20-Poly1305 requires a 32-byte key")

    def open_batch(nonce: pd.Series, ct: pd.Series, aads: pd.Series) -> pd.Series:
        from cryptography.hazmat.primitives.ciphers.aead import ChaCha20Poly1305

        cipher = ChaCha20Poly1305(key)
        out = []
        for n, c, a in zip(nonce, ct, aads):
            try:
                out.append(cipher.decrypt(bytes(n), bytes(c), a.encode()).decode())
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    udf = pandas_udf(open_batch, "string")
    return udf(
        envelope.getField("nonce"), envelope.getField("ciphertext"), envelope.getField("aad")
    )
