"""AEAD payload encryption with the reference's AAD layout (C1–C3).

Semantics mirrored from `tech.kage.event.crypto.EventEncryptor`:

- **AAD layout** (`EventEncryptor.java:139-154`): canonical key bytes ‖
  big-endian int64 of the event's epoch-millis timestamp ‖ canonical
  (key-sorted) Avro ``map<bytes>`` serialization of the metadata — with the
  reserved keys ``id``/``kid`` excluded (`EventEncryptor.java:115-137`), so
  encrypt-side and decrypt-side AAD agree even after the store adds them.
- **Conditional decrypt** (C2): records without a ``kid`` entry pass
  through unchanged; tampering with ciphertext, AAD metadata, key bytes or
  timestamp fails authentication (tamper tests mirror
  `EncryptedPostgresEventStoreIT.java:188-228`).
- **Key-id bookkeeping** (C3): ``kid`` travels in metadata, never inside
  the AAD metadata itself.

Cipher: AES-256-GCM via the `cryptography` package (the reference uses Tink
AEAD, same construction). Ciphertext layout: 12-byte nonce ‖ GCM output.

Key material comes through a pluggable :class:`KeyResolver` (kid URI →
32-byte key, or None for unknown/revoked) — mirroring the reference's
pluggable KMS ``Aead`` bean resolved per event key URI
(`/root/reference/README.md:76-88`,
`tech.kage.event.crypto/.../EventEncryptor.java:86-97`). A plain dict still
works (it wraps into :class:`InMemoryKeyResolver`); production points the
resolver at a KMS client and optionally wraps it in
:class:`CachingKeyResolver` so executors don't call the KMS once per batch.

Spark integration is Arrow-batched pandas UDFs — crypto is inherently
per-row Python here, exactly the "slow path" the architecture isolates: the
UDF touches only (data, key, ts, metadata) columns, everything else stays
JVM-side, and batches cross the boundary once via Arrow.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from event_store_spark.avro.codec import encode_map_bytes
from event_store_spark.core.envelope import ENCRYPTION_KEY_ID, SOURCE_ID

try:
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM
except ImportError:  # pragma: no cover - cryptography is expected here
    AESGCM = None

_NONCE_LEN = 12


def build_aad(key: bytes, ts_millis: int, metadata: dict[str, bytes] | None) -> bytes:
    """key_bytes ‖ int64_be(ts_millis) ‖ canonical metadata bytes.

    An EMPTY (post-filter) metadata map contributes a ZERO-LENGTH segment,
    not the 1-byte Avro empty-map encoding — the reference serializes the
    map only when non-empty (`EventEncryptor.java:139-142`:
    ``metadata.isEmpty() ? new byte[0] : serialize(...)``), and empty
    metadata is the default case, so this byte decides cross-engine
    decryptability.
    """
    clean = {
        k: v
        for k, v in (metadata or {}).items()
        if k not in (SOURCE_ID, ENCRYPTION_KEY_ID)
    }
    md = encode_map_bytes(clean) if clean else b""
    return bytes(key) + struct.pack(">q", ts_millis) + md


def aead_rows(
    mode: str,
    resolver: KeyResolver,
    data: Iterable,
    key: Iterable,
    ts_ms: Iterable,
    md: Iterable,
    kid: Iterable,
    missing_key: str = "error",
) -> list:
    """Per-row body of the AEAD UDFs: encrypt or decrypt each ``data``
    cell under its row's kid, with the AAD from :func:`build_aad` — the
    ONE source of truth for the security-critical layout (a hand-rolled
    copy inside a UDF once drifted on key-sort order). ``md`` holds the
    metadata entries (``[{key, value}]``) with ``id``/``kid`` already
    filtered. Rows without a kid pass through (C2); a kid the resolver
    does not know fails, or yields None under ``missing_key="null"``
    (crypto-shredding). Resolutions memoize per call, so a KMS-backed
    resolver is hit once per distinct kid per batch."""
    batch_keys: dict = {}

    def resolve(ki):
        if ki not in batch_keys:
            batch_keys[ki] = resolver.resolve(ki)
        return batch_keys[ki]

    out = []
    for d, k, t, m, ki in zip(data, key, ts_ms, md, kid):
        if ki is None:  # no kid → passthrough (C2)
            out.append(d)
            continue
        kbytes = resolve(ki)
        if kbytes is None:
            if missing_key == "null":  # shredded key → unreadable
                out.append(None)
                continue
            raise KeyError(f"unknown encryption key id {ki!r}")
        meta = {e["key"]: bytes(e["value"]) for e in (m if m is not None else [])}
        aad = build_aad(bytes(k), int(t), meta)
        cipher = AESGCM(kbytes)
        if mode == "encrypt":
            nonce = os.urandom(_NONCE_LEN)
            out.append(nonce + cipher.encrypt(nonce, bytes(d), aad))
        else:
            out.append(cipher.decrypt(bytes(d[:_NONCE_LEN]), bytes(d[_NONCE_LEN:]), aad))
    return out


class KeyResolver:
    """Protocol: kid URI → 32-byte key, or None if unknown/revoked.

    The analog of the reference's pluggable KMS ``Aead`` bean
    (`EventEncryptor.java:86-97`): implement ``resolve`` against a real
    KMS client and hand the resolver to :class:`EventEncryptor`. A
    resolver used in the DataFrame API must be picklable (cloudpickle
    ships it to executors inside the pandas UDF closure).
    """

    def resolve(self, kid: str) -> bytes | None:  # pragma: no cover
        raise NotImplementedError


class InMemoryKeyResolver(KeyResolver):
    """Dict-backed keyset — the default (and the test stand-in for a KMS).

    ``revoke`` implements crypto-shredding: a revoked kid resolves to
    None from then on.
    """

    def __init__(self, keys: dict[str, bytes]):
        for kid, key in keys.items():
            if len(key) != 32:
                raise ValueError(f"key {kid!r} must be 32 bytes (AES-256)")
        self._keys = dict(keys)

    def resolve(self, kid: str) -> bytes | None:
        return self._keys.get(kid)

    def revoke(self, kid: str) -> None:
        if kid not in self._keys:
            raise KeyError(f"unknown encryption key id {kid!r}")
        del self._keys[kid]


class CachingKeyResolver(KeyResolver):
    """Memoize SUCCESSFUL resolutions of an inner (e.g. KMS-backed)
    resolver. Failures are never cached — a key being rotated in becomes
    visible on the next call. Revocation under caching requires
    :meth:`invalidate` (or a fresh resolver): a success cache cannot see
    the KMS-side delete, the standard KMS-cache trade-off.
    """

    def __init__(self, inner: KeyResolver, maxsize: int = 1024):
        self._inner = inner
        self._maxsize = int(maxsize)
        self._cache: dict[str, bytes] = {}

    def resolve(self, kid: str) -> bytes | None:
        got = self._cache.get(kid)
        if got is None:
            got = self._inner.resolve(kid)
            if got is not None:
                if len(self._cache) >= self._maxsize:
                    self._cache.pop(next(iter(self._cache)))
                self._cache[kid] = got
        return got

    def invalidate(self, kid: str | None = None) -> None:
        if kid is None:
            self._cache.clear()
        else:
            self._cache.pop(kid, None)


class EventEncryptor:
    """AES-256-GCM AEAD over event payloads, keyed by ``kid`` URI."""

    def __init__(self, keys: dict[str, bytes] | KeyResolver):
        if AESGCM is None:
            raise ImportError("cryptography package required for AEAD")
        if isinstance(keys, dict):
            keys = InMemoryKeyResolver(keys)
        self.resolver = keys

    def _key(self, kid: str) -> bytes:
        key = self.resolver.resolve(kid)
        if key is None:
            raise KeyError(f"unknown encryption key id {kid!r}")
        if len(key) != 32:
            raise ValueError(f"key {kid!r} must be 32 bytes (AES-256)")
        return key

    @staticmethod
    def generate_key() -> bytes:
        return AESGCM.generate_key(bit_length=256)

    # ------------------------------------------------------------ bytes API

    def encrypt(self, plaintext: bytes, aad: bytes, kid: str) -> bytes:
        nonce = os.urandom(_NONCE_LEN)
        return nonce + AESGCM(self._key(kid)).encrypt(nonce, bytes(plaintext), aad)

    def decrypt(self, data: bytes, aad: bytes, kid: str) -> bytes:
        nonce, ct = bytes(data[:_NONCE_LEN]), bytes(data[_NONCE_LEN:])
        return AESGCM(self._key(kid)).decrypt(nonce, ct, aad)

    # -------------------------------------------------------- dataframe API

    def _udf(self, mode: str, missing_key: str = "error"):
        from event_store_spark.shipping import ensure_shipped

        ensure_shipped()
        # The resolver rides the closure; the per-row work is the shipped
        # module's aead_rows, so cloudpickle carries only plain values.
        resolver = self.resolver

        @F.pandas_udf("binary")
        def fn(
            data: pd.Series, key: pd.Series, ts_ms: pd.Series, md: pd.Series, kid: pd.Series
        ) -> pd.Series:
            return pd.Series(
                aead_rows(mode, resolver, data, key, ts_ms, md, kid, missing_key)
            )

        return fn

    @staticmethod
    def _args(kid: Column) -> list[Column]:
        # entries ship UNSORTED: canonical (Java-order) sorting happens once
        # inside build_aad's map encoding — a JVM-side array_sort here would
        # be dead work (and sorted differently: UTF-8 bytes vs UTF-16 units)
        md_entries = F.map_entries(
            F.map_filter(
                F.coalesce(F.col("metadata"), F.expr("map()")),
                lambda k, _: ~k.isin(SOURCE_ID, ENCRYPTION_KEY_ID),
            )
        )
        return [
            F.col("key"),
            F.unix_millis(F.col("timestamp").cast("timestamp_ltz")),
            md_entries,
            kid,
        ]

    @staticmethod
    def _with_kid(kid: str) -> Column:
        """``metadata`` with ``kid`` recorded (C3). Any pre-existing kid
        entry is replaced (re-encryption / key rotation): map_concat under
        the default EXCEPTION dedup policy would otherwise fail at runtime
        on the duplicate key."""
        return F.map_concat(
            F.map_filter(
                F.coalesce(F.col("metadata"), F.expr("map()")),
                lambda k, _: k != ENCRYPTION_KEY_ID,
            ),
            F.create_map(F.lit(ENCRYPTION_KEY_ID), F.encode(F.lit(kid), "UTF-8")),
        )

    def encrypt_df(self, df: DataFrame, kid: str) -> DataFrame:
        """Encrypt ``data`` and record ``kid`` in metadata (C1 + C3)."""
        encrypted = self._udf("encrypt")(F.col("data"), *self._args(F.lit(kid)))
        return df.withColumn("data", encrypted).withColumn(
            "metadata", self._with_kid(kid)
        )

    def encrypt_avro_df(
        self, df: DataFrame, payload: Column, schema: dict | str, schema_id: int, kid: str
    ) -> DataFrame:
        """Serialize ``payload`` to Confluent-framed Avro and encrypt it
        into ``data`` in ONE Arrow UDF, recording ``kid`` in metadata.

        Same result as ``to_confluent_avro`` then :meth:`encrypt_df` —
        the plaintext frame, AAD and ciphertext layout come from the same
        per-row helpers — but each row crosses into Python once: the
        five-argument encrypt UDF cannot chain onto the serialize UDF, so
        the two-step plan starts two Python workers per input partition.
        ``df`` needs the canonical ``key``, ms-truncated ``timestamp`` and
        ``metadata`` columns."""
        from event_store_spark.avro.codec import RecordCodec
        from event_store_spark.avro.spark import frame_rows
        from event_store_spark.shipping import ensure_shipped

        ensure_shipped()
        codec = RecordCodec(schema)
        resolver = self.resolver

        @F.pandas_udf("binary")
        def seal(
            rows: pd.DataFrame, key: pd.Series, ts_ms: pd.Series, md: pd.Series, kids: pd.Series
        ) -> pd.Series:
            frames = frame_rows(rows, codec, schema_id)
            return pd.Series(aead_rows("encrypt", resolver, frames, key, ts_ms, md, kids))

        sealed = seal(payload, *self._args(F.lit(kid)))
        return df.withColumn("data", sealed).withColumn(
            "metadata", self._with_kid(kid)
        )

    def decrypt_df(self, df: DataFrame, missing_key: str = "error") -> DataFrame:
        """Decrypt rows that carry a ``kid``; pass others through (C2).

        ``missing_key`` controls rows whose key id is absent from the key
        set: ``"error"`` (default) fails fast; ``"null"`` yields NULL data —
        the read-side contract of crypto-shredding (see :meth:`shred`).
        """
        if missing_key not in ("error", "null"):
            raise ValueError(f"missing_key must be 'error' or 'null', got {missing_key!r}")
        kid = F.when(
            F.map_contains_key(F.coalesce(F.col("metadata"), F.expr("map()")), ENCRYPTION_KEY_ID),
            F.decode(F.col("metadata")[ENCRYPTION_KEY_ID], "UTF-8"),
        )
        decrypted = self._udf("decrypt", missing_key)(F.col("data"), *self._args(kid))
        return df.withColumn("data", decrypted)

    # ------------------------------------------------------ crypto-shredding

    def shred(self, kid: str) -> None:
        """Destroy a key: every event encrypted under ``kid`` becomes
        permanently unreadable WITHOUT touching the (immutable) event log —
        the standard way an encrypted event store implements erasure
        (GDPR-style "forget this subject"): delete the subject's key, not
        the history. Subsequent ``decrypt_df(..., missing_key="null")``
        yields NULL payloads for shredded rows while other keys' rows
        decrypt normally; the default ``"error"`` mode keeps fail-fast
        semantics for genuinely unknown keys.

        Requires a revocable resolver (the in-memory default is; a
        KMS-backed resolver shreds by deleting the key IN the KMS, and a
        caching wrapper must also be invalidated).
        """
        revoke = getattr(self.resolver, "revoke", None)
        if revoke is None:
            raise TypeError(
                f"{type(self.resolver).__name__} is not revocable: shred the "
                "key at its source (e.g. the KMS) and invalidate any cache"
            )
        revoke(kid)
