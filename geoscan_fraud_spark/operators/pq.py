"""Product quantization (PQ) for the embedding corpus — the ANN
compression tier below int8 (SURVEY §2.10 similarity-search scale path).

`quantize_embeddings` (int8) shrinks a float corpus 8x; at 100 TB the
shortlist scan is still reading full-width vectors. PQ splits each
D-dim vector into ``m`` subvectors and replaces every subvector with
the index of its nearest codeword in a per-subspace codebook of ``k``
(<= 256) entries, so a row's shortlist representation is ``m`` BYTES
plus one stored norm — 64 float32 dims collapse from 256 B to ~16 B
(16x; 32x vs float64). Queries score candidates with the classic
asymmetric-distance computation (ADC): per query, one ``m x k`` table
of exact query-subvector/codeword dot products is computed ONCE, and
every candidate's approximate dot product is ``m`` table lookups —
no per-candidate float math at all. Jegou et al., "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011) is the public
recipe; Faiss's IVF-PQ is the reference production shape.

Spark mapping — every stage is shuffle-free except the final tiny
shortlist merge:

* **train** — driver-side numpy Lloyd per subspace over a bounded,
  deterministic sample (the textbook recipe: Faiss trains its
  codebooks on a sample too; a 100 TB corpus trains from the same few
  thousand rows). Codebooks are plain nested lists — they persist in
  index metadata JSON and ship to executors as literals in a closure.
* **encode** — one Arrow-batched `mapInPandas` pass (map-only, no
  shuffle): per batch, ``m`` small matmuls assign every subvector to
  its nearest codeword. Appends encode with the FROZEN codebooks from
  the index metadata, mirroring the frozen-centroid IVF append.
* **score** — ADC inside `mapInPandas` with a per-batch local top-R
  per query (any global top-R row is in its batch's top-R under the
  same total order, so the merge is exact); only the per-batch
  shortlists shuffle. Exact re-rank against full-precision vectors
  then removes the quantization error from the reported top-k, same
  contract as `ivf_topk_quantized`.

Python touches data only through Arrow batches (repo UDF policy); the
codebook math is numpy matmuls, never per-row loops.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoscan_fraud_spark.operators.similarity import lloyd_centroids

#: codes are stored as array<tinyint> with this offset (code 0 -> -128),
#: the narrowest Spark/parquet integer type; k is capped at 256 to fit
_CODE_OFFSET = 128


def pq_train_codebooks(
    vectors: np.ndarray, m: int = 8, k: int = 256, iters: int = 10
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``k`` codewords each over a
    driver-side sample — deterministic (`lloyd_centroids`: first-k init,
    float64), so retraining on the same sample reproduces the same
    codebooks bit-for-bit (what makes crash-replayed index builds
    byte-stable). Returns nested lists shaped ``[m][k][dim//m]``,
    JSON-serializable for index metadata."""
    X = np.asarray(vectors, dtype=np.float64)
    if X.ndim != 2:
        raise ValueError(f"pq_train_codebooks wants a 2-D sample, got {X.ndim}-D")
    n, d = X.shape
    _validate_pq_shape(d, m, k)
    if n < k:
        raise ValueError(
            f"pq_train_codebooks: sample has {n} rows < k={k} codewords; "
            f"pass more rows or a smaller k"
        )
    dsub = d // m
    return [
        lloyd_centroids(X[:, j * dsub : (j + 1) * dsub], k, iters=iters)
        for j in range(m)
    ]


def pq_train_sample(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_rows: int = 4096,
    iters: int = 10,
    sample: str = "hash",
) -> list[list[list[float]]]:
    """Deterministic training sample straight from a DataFrame feeding
    `pq_train_codebooks`. ``sample='hash'`` (the default) takes the
    ``train_rows`` rows with the LOWEST ``xxhash64(id)`` (id tiebreak):
    equally deterministic and bit-stable across retrains,
    but pseudo-random in id space, so a corpus whose ids correlate with
    content (crawl order, source shards) trains on an unbiased slice —
    the same stratification as ``pmod(xxhash64(id), p) = 0`` without
    having to pick ``p`` or re-count the corpus, and with an exact
    sample size. Both modes are a TakeOrdered — no full sort
    materializes. ``sample='lowest_id'`` keeps the lowest-id ordering for
    callers that pinned codebooks against it."""
    pdf = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy(*_sample_order(sample, "__id"))
        .limit(train_rows)
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError(
            "pq_train_sample: the corpus is empty — PQ codebooks cannot "
            "train on zero rows (build the index without pq_m, or pass "
            "pre-trained pq_codebooks)"
        )
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
    return pq_train_codebooks(X, m=m, k=k, iters=iters)


def _sample_order(sample: str, id_col: str) -> list:
    """Sort keys for the deterministic training sample: lowest
    ``xxhash64(id)`` (id tiebreak — hash collisions must not make the
    cut order ambiguous) or plain lowest id."""
    if sample == "hash":
        return [F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc()]
    if sample == "lowest_id":
        return [F.col(id_col).asc()]
    raise ValueError(
        f"sample must be 'hash' or 'lowest_id', got {sample!r}"
    )


def _validate_pq_shape(dim: int, m: int, k: int) -> None:
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"PQ needs dim divisible by m: dim={dim}, m={m}"
        )
    if not 1 <= k <= 256:
        raise ValueError(f"PQ codebook size k must be in [1, 256], got {k}")


def _np_codebooks(codebooks) -> np.ndarray:
    """Validate + densify metadata codebooks to a ``(m, k, dsub)`` float64
    array (raises on ragged shapes — a torn metadata write would show up
    here, before any executor sees it)."""
    C = np.asarray(codebooks, dtype=np.float64)
    if C.ndim != 3:
        raise ValueError(
            f"PQ codebooks must be [m][k][dsub] nested lists, got ndim={C.ndim}"
        )
    _validate_pq_shape(C.shape[0] * C.shape[2], C.shape[0], C.shape[1])
    return C


def pq_reconstruct(codes: np.ndarray, codebooks) -> np.ndarray:
    """Decode stored codes (OFFSET form, int8) back to approximate
    vectors — test/diagnostic helper, never on a hot path."""
    C = _np_codebooks(codebooks)
    m = C.shape[0]
    u = np.asarray(codes, dtype=np.int64) + _CODE_OFFSET
    return np.concatenate(
        [C[j][u[:, j]] for j in range(m)], axis=1
    )


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
    keep_vec: bool = False,
    coarse_centroids=None,
    one_based: bool = False,
    list_col: str = "list_id",
) -> DataFrame:
    """Encode a vector column to PQ codes: (id, *keep_cols[, vec],
    vnorm double, codes array<tinyint>).

    One Arrow-batched map-only pass: per batch, each subspace runs a
    single ``(batch x dsub) @ (dsub x k)`` matmul and an argmin — the
    |x|^2 term is constant per row, so nearest-codeword reduces to
    ``argmin(|c|^2 - 2 x.c)``. ``vnorm`` stores the EXACT original L2
    norm (8 bytes), so ADC cosine error comes only from the numerator.
    ``keep_vec`` carries the original vector column through for callers
    that chain another encoder over the same rows (the IVF build chains
    int8 quantization after this).

    ``coarse_centroids`` switches to RESIDUAL encoding (Faiss IVFPQ
    proper): each row's assigned coarse centroid (``list_col``, which
    must then be in ``keep_cols``; ``one_based`` matches the index's
    list-id convention) is subtracted before the subspace argmin, so
    the codebooks spend their k codewords on the within-list residual
    instead of the global spread — finer quantization for the same
    bytes. The ADC score then needs the per-(query, list) base term
    ``dot(q, c_list)`` added back (`_adc_local_topk`'s ``adot_base``)."""
    C = _np_codebooks(codebooks)
    m, k, dsub = C.shape
    dim = m * dsub
    keep = list(keep_cols or [])
    if coarse_centroids is not None and list_col not in keep:
        raise ValueError(
            f"residual pq_encode needs {list_col!r} in keep_cols"
        )
    CC = (
        np.asarray(coarse_centroids, dtype=np.float64)
        if coarse_centroids is not None
        else None
    )
    if CC is not None and CC.shape[1] != dim:
        raise ValueError(
            f"coarse centroids are {CC.shape[1]}-dim but codebooks "
            f"encode {dim}-dim"
        )
    cn2 = (C * C).sum(axis=2)  # (m, k) codeword squared norms

    cols = [id_col, *keep, vec_col]
    src = df.select(*cols)
    fields = [src.schema[c] for c in cols[:-1]]
    out_fields = fields + (
        [src.schema[vec_col]] if keep_vec else []
    ) + [
        T.StructField("vnorm", T.DoubleType()),
        T.StructField("codes", T.ArrayType(T.ByteType())),
    ]
    schema = T.StructType(out_fields)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if X.shape[1] != dim:
                raise ValueError(
                    f"pq_encode: vectors are {X.shape[1]}-dim but the "
                    f"codebooks encode {dim}-dim"
                )
            n = len(X)
            vnorm = np.sqrt((X * X).sum(axis=1))
            if CC is not None:
                lid = pdf[list_col].to_numpy().astype(np.int64) - (
                    1 if one_based else 0
                )
                X = X - CC[lid]
            codes = np.empty((n, m), dtype=np.int16)
            Xs = X.reshape(n, m, dsub)
            for j in range(m):
                # argmin_k |x - c_k|^2 == argmin_k (|c_k|^2 - 2 x.c_k)
                codes[:, j] = (cn2[j][None, :] - 2.0 * (Xs[:, j, :] @ C[j].T)).argmin(
                    axis=1
                )
            out = {c: pdf[c].to_numpy() for c in cols[:-1]}
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            out["vnorm"] = vnorm  # EXACT original norm, pre-residual
            out["codes"] = list((codes - _CODE_OFFSET).astype(np.int8))
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema)


def _adc_local_topk(
    cand: DataFrame, codebooks, limit: int, id_type
) -> DataFrame:
    """ADC-score candidate rows (query_id, q_emb, __qn, vec_id, vnorm,
    codes) and emit each Arrow batch's top ``limit`` rows per query as
    (query_id, vec_id, sim_q). The per-query ``m x k`` lookup table is
    computed once per batch; candidates score via ``m`` table lookups.
    Local truncation is exact under the global (sim desc, vec_id asc)
    total order: a row outside a batch's top ``limit`` has ``limit``
    batch-mates strictly ahead of it globally too. Only these truncated
    shortlists reach the merge shuffle.

    If ``cand`` carries an ``adot_base`` column (residual encoding: the
    exact ``dot(q, c_list)`` per probe pair, computed natively upstream)
    it is added to each candidate's table sum before normalizing."""
    C = _np_codebooks(codebooks)
    m = C.shape[0]
    has_base = "adot_base" in cand.columns
    qid_type = cand.schema["query_id"].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", qid_type),
            T.StructField("vec_id", id_type),
            T.StructField("sim_q", T.DoubleType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for qid, g in pdf.groupby("query_id", sort=False):
                qe = np.asarray(g["q_emb"].iloc[0], dtype=np.float64)
                qn = float(g["__qn"].iloc[0])
                Q = qe.reshape(m, -1)
                table = np.einsum("md,mkd->mk", Q, C)  # (m, k) exact dots
                codes = (
                    np.stack([np.asarray(c, dtype=np.int64) for c in g["codes"]])
                    + _CODE_OFFSET
                )
                adot = table[np.arange(m)[None, :], codes].sum(axis=1)
                if has_base:
                    adot = adot + g["adot_base"].to_numpy()
                vnorm = g["vnorm"].to_numpy()
                sim = adot / (qn * np.where(vnorm == 0.0, 1.0, vnorm))
                vec_ids = g["vec_id"].to_numpy()
                # total order: sim desc, vec_id asc (last lexsort key is
                # primary). A full sort, not argpartition: boundary TIES
                # must resolve by vec_id exactly as the global window
                # does, or local truncation could drop a globally-ranked
                # row. Batch groups are Arrow-sized; n log n is noise.
                order = np.lexsort((vec_ids, -sim))[:limit]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(
                                g["query_id"].iloc[0], len(order)
                            ),
                            "vec_id": vec_ids[order],
                            "sim_q": sim[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    score_cols = ["query_id", "q_emb", "__qn", "vec_id", "vnorm", "codes"]
    if has_base:
        score_cols.append("adot_base")
    return cand.select(*score_cols).mapInPandas(run, schema)
