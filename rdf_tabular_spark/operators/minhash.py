"""MinHash-LSH near-duplicate blocking — Spark-native shuffle plan, numpy-
vectorized signatures.

Generic over any (id, text) DataFrame; used for (a) subject canonicalization
blocking in the KG pipeline (north_rule stage 3) and (b) the document
near-duplicate queries of the query registry (``dedup_minhash_scale_*``).

Plan shape:
  signatures: narrow Arrow stage (numpy, O(n_rows · num_perm))
  buckets:    explode to num_bands (band, band_hash) keys per row and ONE
              groupBy on them that collects each bucket's members (and their
              signatures, when verifying) — the one shuffle of the bands.
  pairs:      formed inside each bucket of at most max_bucket members by
              Column expressions, with their estimated Jaccard when
              verifying (pairs below the threshold drop before they are
              shuffled); then one groupBy(a, b) counts the bands a pair
              collides in (min_band_matches). No self-join, no join back to
              the signatures, nothing persisted.
The bucket-size cap guards degenerate (hot) buckets.

Cost: two shuffles and no persist, which at crawl-batch size (a few hundred
signatures) is 3 Spark jobs against 8 for a band self-join plus two joins
back to the signatures. Verifying inside the buckets carries each
signature once per band through the band shuffle, and pairs are formed by
interpreted higher-order functions rather than a codegen'd join. On a
20k-page ``synth_pages`` crawl (866,799 triples, ``canonicalize_subjects``
defaults, 4 cores, 3 warm runs) the whole canonicalization took
17.0-17.4 s against 16.4-19.7 s with the self-join plan, in 11 jobs
against 17, but its shuffles wrote 420 MB against 121 MB (405 MB of it
the band shuffle). On that crawl's 122,838 distinct-profile signatures
the verified-edge pass alone took 10.7-12.8 s against 9.1-9.6 s, and an
ids-only bucket pass 9.3-10.6 s before any verification, so collecting
only ids and joining the signatures back afterwards would not be faster.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

_MERSENNE = (1 << 61) - 1


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


def _shingle_hashes_vec(text: str, k: int) -> np.ndarray:
    """Vectorized shingle hashing via byte-window dot products."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(b) < k:
        b = np.pad(b, (0, k - len(b)), constant_values=0)
    windows = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    weights = np.power(np.uint64(31), np.arange(k, dtype=np.uint64),
                       dtype=np.uint64)
    return (windows * weights).sum(axis=1, dtype=np.uint64)


def _md5_u64(s: str) -> int:
    """Token → uint64 = first 8 bytes (big-endian) of md5. C-implemented
    (faster than a pure-Python FNV byte loop) and reproducible in the DuckDB
    oracle as ('0x' || substring(md5(t), 1, 16))::ubigint."""
    import hashlib
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 64, shingle_k: int = 5,
                       seed: int = 1, token_sep: str | None = None) -> DataFrame:
    """→ (id, sig: array<long>) — narrow Arrow stage, no shuffle.

    ``token_sep``: shingle at TOKEN granularity (split on the separator)
    instead of character k-shingles. For structured profiles
    (field=value|field=value|...) char shingles make every record look
    alike (shared field names and small vocabularies push Jaccard ≈ 0.85
    between genuinely different records), which floods every LSH bucket and
    makes the candidate join quadratic in corpus size; token shingles keep
    distinct records dissimilar so buckets stay small.
    """
    a_params, b_params = _perm_params(num_perm, seed)

    schema = StructType([
        StructField("id", StringType(), False),
        StructField("sig", ArrayType(LongType()), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a = a_params.astype(np.uint64)
        b = b_params.astype(np.uint64)
        m = np.uint64(_MERSENNE)
        for pdf in batches:
            ids, sigs = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                s = str(text or "")
                if token_sep is not None:
                    toks = [t for t in s.split(token_sep) if t]
                    sh = np.unique(np.array(
                        [_md5_u64(t) for t in toks] or [0], dtype=np.uint64))
                else:
                    sh = np.unique(_shingle_hashes_vec(s, shingle_k))
                # (a*x + b) mod p, min over shingles, per permutation
                vals = (sh[None, :] * a[:, None] + b[:, None]) % m
                sig = vals.min(axis=1).astype(np.int64)
                ids.append(str(rid))
                sigs.append(sig.tolist())
            yield pd.DataFrame({"id": ids, "sig": sigs})

    from ..session import ensure_package_on_executors
    ensure_package_on_executors(df.sparkSession)
    return df.mapInPandas(kernel, schema=schema)


def _band_keys(num_bands: int):
    """The ``array<struct<band, band_hash>>`` of a row's signature ``sig``:
    band b hashes the b-th of ``num_bands`` equal slices. Pure Column
    expressions (codegen), no Python."""
    rows_per_band = F.floor(F.size("sig") / num_bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.concat_ws(",", F.transform(
                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string")))).alias("band_hash"),
        ),
    )


def _bucket_pairs(sig_df: DataFrame, num_bands: int, max_bucket: int,
                  min_band_matches: int, threshold: float | None) -> DataFrame:
    """The one bucket pass behind :func:`lsh_candidate_pairs` and
    :func:`signature_similarity_edges`: one ``groupBy(band, band_hash)``
    collects each bucket's members (with their signatures when
    ``threshold`` is given), and the pairs a < b of every bucket of 2 to
    ``max_bucket`` members are formed inside that bucket, together with
    their ``sim``, by Column expressions, and those below ``threshold``
    drop there; one ``groupBy(a, b)`` then keeps the pairs that collide in
    at least ``min_band_matches`` bands. → (a, b[, sim])."""
    with_sig = threshold is not None
    member = F.struct("id", "sig") if with_sig else F.struct("id")
    banded = sig_df.select(*(["id", "sig"] if with_sig else ["id"]),
                           F.explode(_band_keys(num_bands)).alias("bh"))
    buckets = (banded.groupBy(F.col("bh.band").alias("band"),
                              F.col("bh.band_hash").alias("band_hash"))
               # sorted by id, so a pair of distinct ids comes out as a < b
               .agg(F.array_sort(F.collect_list(member)).alias("m"))
               .filter(F.size("m").between(2, max_bucket)))

    def pair(x, y):
        fields = [x["id"].alias("a"), y["id"].alias("b")]
        if with_sig:
            fields.append((F.size(F.filter(
                F.zip_with(x["sig"], y["sig"], lambda p, q: p == q),
                lambda eq: eq)) / F.size(x["sig"])).alias("sim"))
        return F.struct(*fields)

    pairs = buckets.select(F.explode(F.flatten(F.transform(
        "m", lambda x, i: F.transform(F.slice("m", i + 2, F.size("m")),
                                      lambda y: pair(x, y))))).alias("p")
                           ).select("p.*").filter(F.col("a") < F.col("b"))
    agg = [F.count("*").alias("_nb")]
    if with_sig:
        # a pair's sim is the same in every band it collides in, so the
        # threshold can drop it before the pair shuffle
        pairs = pairs.filter(F.col("sim") >= threshold)
        agg.append(F.max("sim").alias("sim"))  # one value per pair
    return (pairs.groupBy("a", "b").agg(*agg)
            .filter(F.col("_nb") >= min_band_matches).drop("_nb"))


def lsh_candidate_pairs(sig_df: DataFrame, num_bands: int = 16,
                        max_bucket: int = 2000,
                        releases: list | None = None,
                        min_band_matches: int = 1) -> DataFrame:
    """→ distinct (a, b) candidate pairs, a < b, formed inside each
    (band, band_hash) bucket of one grouping pass (:func:`_bucket_pairs`);
    degenerate buckets (> max_bucket ids) are dropped rather than
    silently exploding quadratically.

    ``min_band_matches``: require the pair to collide in at least this many
    bands (the count falls out of the pair grouping). With r-row bands,
    P(k of b bands match) falls off as C(b,k)·J^rk, so k=2 cuts
    low-similarity accidental collisions ~50-100x while keeping recall at
    the threshold ≳0.93 — the difference between a 3M-pair and a 40k-pair
    candidate set on a corpus whose profiles draw from small vocabularies
    (measured on the 20k-page scenario).

    ``releases`` is accepted for callers that collect persisted frames;
    nothing is persisted here, so nothing is appended."""
    return _bucket_pairs(sig_df, num_bands, max_bucket, min_band_matches,
                         threshold=None)


def signature_similarity_edges(sig_df: DataFrame, num_bands: int = 16,
                               threshold: float = 0.5,
                               max_bucket: int = 2000,
                               releases: list | None = None,
                               min_band_matches: int = 1) -> DataFrame:
    """Candidate pairs verified by estimated Jaccard (matching minhash
    fraction) ≥ threshold → (a, b, sim) edges.

    Verification happens inside the bucket pass: each bucket carries its
    members' signatures, so a pair's ``sim`` is computed where the pair is
    formed — no join back to the signature table. The same pairs as
    :func:`lsh_candidate_pairs`, minus those below ``threshold``.
    ``releases``: as in :func:`lsh_candidate_pairs`, nothing is persisted."""
    return _bucket_pairs(sig_df, num_bands, max_bucket, min_band_matches,
                         threshold)
