"""Tabular privacy gates: k-anonymity profiling and small-group
suppression.

Before a table (or a metadata side-table of a text corpus) ships, the
standard re-identification check is k-anonymity over the
quasi-identifier columns (Sweeney 2002): every combination of
quasi-identifier values must be shared by at least k rows. Profiling
is ONE map-side-combined groupBy over the quasi-identifier tuple;
suppression is the same aggregate joined back (AQE broadcasts it when
the violating-group list is small, which it is by definition — those
groups have < k rows each).

Scale note: the group-size table is bounded by the number of DISTINCT
quasi-identifier tuples, not by rows; at 100 TB the aggregate is the
only full-data pass and it combines map-side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import _quarantine_mode

__all__ = ["k_anonymity_profile", "suppress_small_groups"]


def k_anonymity_profile(df: DataFrame,
                        quasi_cols: Sequence[str]) -> DataFrame:
    """One-row profile of the table's k-anonymity under ``quasi_cols``:
    (k_min, n_groups, n_rows, n_unique_groups, n_unique_rows) where
    ``k_min`` is the smallest group size (the table's actual k) and
    the unique columns count groups/rows below the conventional k=2
    threshold (singleton rows — the re-identifiable ones). NULL
    quasi-identifier values form their own group, mirroring groupBy
    semantics."""
    if isinstance(quasi_cols, str):
        quasi_cols = [quasi_cols]
    if not quasi_cols:
        raise ValueError("k_anonymity_profile needs quasi-identifier columns")
    g = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n"))
    return g.agg(
        F.min("n").alias("k_min"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").alias("n_rows"),
        F.sum(F.when(F.col("n") < 2, 1).otherwise(0)).cast("long")
        .alias("n_unique_groups"),
        F.sum(F.when(F.col("n") < 2, F.col("n")).otherwise(0))
        .cast("long").alias("n_unique_rows"))


def suppress_small_groups(df: DataFrame, quasi_cols: Sequence[str],
                          k: int) -> DataFrame:
    """Rows whose quasi-identifier group has >= k members — the
    suppression step that makes the survivors k-anonymous. One
    aggregate + one NULL-SAFE semi-join on the quasi tuple (groupBy
    treats NULL as a group, so the join must too — a plain equi-join
    would silently delete every null-keyed row no matter how large
    its group). The aggregate side is distinct-tuple-sized; AQE
    broadcasts it when small."""
    if isinstance(quasi_cols, str):
        quasi_cols = [quasi_cols]
    if k < 1:
        raise ValueError("k must be >= 1")
    big = (df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__n__"))
           .filter(F.col("__n__") >= int(k))
           .drop("__n__"))
    cond = None
    for c in quasi_cols:
        eq = df[c].eqNullSafe(big[c])
        cond = eq if cond is None else cond & eq
    return df.join(big, cond, "left_semi")


# ----------------------------------------------------------------------
# column-level protection (round 12): native AES encryption +
# keyed one-way pseudonymization — all JVM-side expressions
# (aes_encrypt/aes_decrypt/sha2), zero Python in the row path.
# ----------------------------------------------------------------------
def encrypt_columns(df: DataFrame, cols, key: str,
                    deterministic: bool = False,
                    suffix: str = "") -> DataFrame:
    """Encrypt string-castable columns at rest with Spark's native
    ``aes_encrypt`` (key of 16/24/32 bytes).

    Default mode is GCM — randomized, semantically secure, the right
    choice for storage. ``deterministic=True`` switches to ECB: equal
    plaintexts yield equal ciphertexts, so the protected column stays
    JOINABLE/dedupable (keyed pseudonymization) at the cost of
    equality leakage — the standard trade; pick per column. Encrypted
    columns become ``binary`` (replaced in place, or appended under
    ``{col}{suffix}`` when ``suffix`` is non-empty). NULLs stay NULL.
    """
    if isinstance(cols, str):
        cols = [cols]
    if len(key.encode()) not in (16, 24, 32):
        raise ValueError("AES key must be 16, 24, or 32 bytes")
    mode = "ECB" if deterministic else "GCM"
    out = df
    for c in cols:
        enc = F.aes_encrypt(F.col(c).cast("string").cast("binary"),
                            F.lit(key), F.lit(mode))
        out = out.withColumn(c + suffix if suffix else c, enc)
    return out


def decrypt_columns(df: DataFrame, cols, key: str,
                    deterministic: bool = False,
                    on_error: str = "raise") -> DataFrame:
    """Inverse of :func:`encrypt_columns` — decrypts each binary
    column back to its string form (cast further in the caller if the
    original type was numeric).

    ``on_error="raise"`` (default) fails the job on a wrong key or a
    corrupt/tampered ciphertext (GCM authenticates, so tampering IS
    detected). ``on_error="quarantine"`` switches to
    ``try_aes_decrypt``: undecryptable values come back NULL and a
    ``{col}__corrupt`` boolean marks them — one bad row among billions
    audits instead of killing the job, the same contract as the
    multimodal/JSONL/WET quarantines."""
    if isinstance(cols, str):
        cols = [cols]
    quarantine = _quarantine_mode(on_error)
    mode = "ECB" if deterministic else "GCM"
    out = df
    for c in cols:
        if quarantine:
            dec = F.try_aes_decrypt(F.col(c), F.lit(key), F.lit(mode))
            out = (out.withColumn(
                       c + "__corrupt",
                       F.col(c).isNotNull() & dec.isNull())
                   .withColumn(c, dec.cast("string")))
        else:
            out = out.withColumn(
                c, F.aes_decrypt(F.col(c), F.lit(key),
                                 F.lit(mode)).cast("string"))
    return out


def pseudonymize(df: DataFrame, cols, secret: str,
                 length: int = 16) -> DataFrame:
    """One-way keyed pseudonymization: each column value becomes the
    first ``length`` hex chars of ``sha2(secret || 0x1f || value,
    256)`` — irreversible (no decrypt exists), deterministic (equal
    values map to equal tokens, so joins/dedup/groupBys still work),
    and keyed (tokens are not linkable across datasets protected with
    different secrets). The standard GDPR-style pseudonymization
    primitive when re-identification must be impossible rather than
    merely key-protected. NULLs stay NULL."""
    if isinstance(cols, str):
        cols = [cols]
    if not 8 <= int(length) <= 64:
        raise ValueError("length must be in [8, 64] hex chars")
    out = df
    for c in cols:
        tok = F.substring(
            F.sha2(F.concat_ws("\x1f", F.lit(secret),
                               F.col(c).cast("string")), 256),
            1, int(length))
        out = out.withColumn(
            c, F.when(F.col(c).isNull(), F.lit(None)).otherwise(tok))
    return out
