"""Product quantization (Jégou et al. 2011) — the FAISS-standard
vector-compression companion to IVF: split each d-dim vector into ``m``
subvectors, k-means each subvector space into ``n_codes`` centroids,
store each vector as m uint8-sized codes (d*4 bytes -> m bytes), and
answer queries with Asymmetric Distance Computation — one m-entry
lookup-table sum per candidate instead of a d-dim float scan.

Spark-first shapes:

- **Training** runs ALL m sub-quantizers in ONE distributed job per
  Lloyd iteration: the corpus explodes once to (id, sub, subvec) and
  assignment/update aggregate over the extra ``sub`` key — m never
  multiplies the job count. Assignment carries the full codebook as
  ``m * n_codes * d/m = d * n_codes`` codegen literals (the k-means
  literal-centroid pattern, `clustering.py`); the update is one
  (sub, code, dim) average whose result — the next codebook — is
  driver-small by definition.
- **Encoding** is a narrow zero-shuffle projection: per subvector,
  argmin over the literal codebook via ``array_min`` on
  (dist2, code) structs (struct ordering = the code tie-break).
- **ADC top-k** precomputes the m x n_codes query lookup table on the
  driver (m*n_codes floats), embeds it as literals, and scores each
  candidate with an m-term array lookup sum — no vector math per row
  at query time. Top-k = sort+limit (TakeOrderedAndProject); the rank
  column is added by a window over the already-cut k rows only.

Determinism contract (mirrors `clustering.py` so the q152/q153 DuckDB
oracles replay training, codes, and distances bit-for-bit): input
coordinates round to 1e-9, distances to 1e-6 before every argmin (ties
break on code id), centroid updates are **integer-exact means** —
coordinates quantize once to the 1e-9 grid as 64-bit integers and the
update sums those integers (order-independent exactly, so no shuffle
layout can flip a centroid the way a float ``AVG`` re-rounded to the
grid can when a sum lands within ulps of a boundary) — empty codes
keep their previous centroid, init = subvectors of the ``n_codes``
smallest ids.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import pipeline_break

Codebooks = List[List[List[float]]]  # [m][n_codes][d/m]


def _slices(vec: Column, dim: int, m: int, scale: int = 9) -> Column:
    """array of m subvector slices, elements rounded to ``scale``."""
    dsub = dim // m
    return F.array(
        *[
            F.transform(
                F.slice(vec, s * dsub + 1, dsub),
                lambda x: F.round(x.cast("double"), scale),
            )
            for s in range(m)
        ]
    )


def _cb_lit(codebooks: Codebooks) -> Column:
    return F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in c])
                    for c in cb
                ]
            )
            for cb in codebooks
        ]
    )


def _assign(subvec: Column, cb_s: Column, scale: int = 6) -> Column:
    """(dist2, code) argmin of one subvector against one sub-codebook
    (an array of centroid arrays); ties break on code id via struct
    ordering."""
    d2 = lambda c: F.round(  # noqa: E731
        F.aggregate(
            F.zip_with(subvec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        scale,
    )
    # named_struct (not struct + alias): field aliases assigned inside a
    # higher-order-function lambda are mangled by the analyzer.
    pairs = F.transform(
        cb_s,
        lambda c, ci: F.named_struct(
            F.lit("dd"), d2(c), F.lit("code"), ci
        ),
    )
    return F.array_min(pairs)


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
) -> Codebooks:
    """Train m sub-quantizer codebooks jointly (one distributed
    assignment+update job per Lloyd iteration, covering every
    subvector space at once). Returns [m][n_codes][dim/m] floats."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(_slices(F.col(vec_col), dim, m)).alias(
            "__sub", "__sv"
        ),
    )
    init = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy("__id")
        .limit(n_codes)
        .collect()
    )
    if len(init) < n_codes:
        raise ValueError(
            f"need >= {n_codes} vectors to seed the codebooks"
        )
    codebooks: Codebooks = [
        [
            [round(float(r["__v"][s * dsub + t]), 9) for t in range(dsub)]
            for r in init
        ]
        for s in range(m)
    ]
    for _ in range(iterations):
        cb = _cb_lit(codebooks)
        assigned = pts.select(
            "__sub",
            _assign(
                F.col("__sv"), F.element_at(cb, F.col("__sub") + 1)
            )["code"].alias("__code"),
            F.posexplode(F.col("__sv")).alias("__j", "__x"),
        )
        # integer-exact mean (module note): quantize to the 1e-9 grid
        # once, sum exactly as decimal(18,0) — Spark widens the SUM to
        # decimal(38,0), so the accumulator cannot wrap even at ~1e38
        # quantized mass per (sub, code, dim) — divide the exact sum
        rows = (
            assigned.groupBy("__sub", "__code", "__j")
            .agg(
                F.round(
                    (
                        F.sum(
                            F.round(F.col("__x") * 1e9)
                            .cast("decimal(18,0)")
                        ).cast("double")
                        / F.count(F.lit(1)).cast("double")
                    )
                    / F.lit(1e9),
                    9,
                ).alias("__mu")
            )
            .collect()
        )
        nxt = [
            [list(codebooks[s][c]) for c in range(n_codes)]
            for s in range(m)
        ]
        for r in rows:
            nxt[r["__sub"]][r["__code"]][r["__j"]] = r["__mu"]
        codebooks = nxt
    return codebooks


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: Codebooks,
    *,
    dim: int,
    code_col: str = "codes",
) -> DataFrame:
    """Append the m-code array: per subvector, argmin over the literal
    codebook. Zero shuffle — fuses into whatever stage reads the
    vectors."""
    m = len(codebooks)
    cb = _cb_lit(codebooks)
    codes = F.transform(
        _slices(F.col(vec_col), dim, m),
        lambda sv, s: _assign(sv, F.element_at(cb, s + 1))["code"],
    )
    return df.withColumn(code_col, codes)


def _coarse_lit(coarse: List[List[float]]) -> Column:
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in coarse]
    )


def _with_cell_residual(
    df: DataFrame,
    vec_col: str,
    coarse: List[List[float]],
    *,
    cell_col: str = "__cell",
    res_col: str = "__res",
) -> DataFrame:
    """Append the nearest-coarse-cell id and the residual vector
    ``round(v - centroid[cell], 9)``. Pure projection — the coarse
    codebook rides as literals, zero shuffle."""
    carr = _coarse_lit(coarse)
    v9 = F.transform(
        F.col(vec_col).cast("array<double>"), lambda x: F.round(x, 9)
    )
    out = df.withColumn("__v9", v9)
    out = out.withColumn(cell_col, _assign(F.col("__v9"), carr)["code"])
    out = out.withColumn(
        res_col,
        F.zip_with(
            F.col("__v9"),
            F.element_at(carr, F.col(cell_col) + 1),
            lambda a, b: F.round(a - b, 9),
        ),
    )
    return out.drop("__v9")


def ivfpq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    dim: int,
    n_cells: int = 4,
    m: int = 4,
    n_codes: int = 16,
    coarse_iterations: int = 1,
    pq_iterations: int = 2,
):
    """IVF-PQ / IVFADC training (Jégou et al. 2011, §IV): a coarse
    quantizer partitions the corpus into ``n_cells`` inverted lists,
    and product quantization encodes each vector's RESIDUAL
    ``v - centroid[cell]`` — residual energy is far smaller than raw
    vector energy, so the same code budget quantizes much finer.

    The coarse quantizer IS :func:`pq_train` with ``m=1`` (a single
    full-width sub-quantizer = plain Lloyd's over whole vectors) —
    one training implementation serves both levels, and both inherit
    the deterministic round/tie-break contract that makes q155/q156's
    DuckDB oracles bit-replayable.

    Returns ``(coarse, codebooks)``: ``coarse`` is [n_cells][dim],
    ``codebooks`` is [m][n_codes][dim/m] — both driver-small.
    """
    coarse = pq_train(
        df, vec_col, id_col,
        dim=dim, m=1, n_codes=n_cells, iterations=coarse_iterations,
    )[0]
    # materialize the residuals ONCE: every residual-PQ training job
    # (seed collect + one per Lloyd iteration) re-scans its input, and
    # without the checkpoint each scan would re-run the coarse
    # assignment argmin chain (values are identical either way — this
    # is purely a recompute cut)
    res = pipeline_break(
        _with_cell_residual(df.select(id_col, vec_col), vec_col, coarse)
    )
    codebooks = pq_train(
        res, "__res", id_col,
        dim=dim, m=m, n_codes=n_codes, iterations=pq_iterations,
    )
    return coarse, codebooks


def ivfpq_encode(
    df: DataFrame,
    vec_col: str,
    coarse: List[List[float]],
    codebooks: Codebooks,
    *,
    dim: int,
    cell_col: str = "cell",
    code_col: str = "codes",
) -> DataFrame:
    """Append (cell, m-code array): nearest coarse cell, then PQ codes
    of the residual. Zero-shuffle projection — at 100 TB the encoded
    table is written partitioned/bucketed by ``cell`` so queries prune
    to their probed cells at the file level."""
    m = len(codebooks)
    cb = _cb_lit(codebooks)
    out = _with_cell_residual(
        df, vec_col, coarse, cell_col=cell_col, res_col="__res"
    )
    codes = F.transform(
        _slices(F.col("__res"), dim, m),
        lambda sv, s: _assign(sv, F.element_at(cb, s + 1))["code"],
    )
    return out.withColumn(code_col, codes).drop("__res")


def _probe_and_luts(
    query_vec: Sequence[float],
    coarse: List[List[float]],
    codebooks: Codebooks,
    nprobe: int,
):
    """Driver-side probe selection + per-probed-cell residual lookup
    tables; returns (probed cell ids, literal LUT column indexed
    [cell][sub][code])."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = m * dsub
    n_codes = len(codebooks[0])
    q = [round(float(x), 9) for x in query_vec]
    cd = sorted(
        (
            round(sum((q[j] - c[j]) ** 2 for j in range(dim)), 6),
            ci,
        )
        for ci, c in enumerate(coarse)
    )
    probed = [ci for _, ci in cd[:nprobe]]
    luts = {}
    for ci in probed:
        qr = [q[j] - coarse[ci][j] for j in range(dim)]
        luts[ci] = [
            [
                round(
                    sum(
                        (qr[s * dsub + t] - cc[t]) ** 2
                        for t in range(dsub)
                    ),
                    6,
                )
                for cc in codebooks[s]
            ]
            for s in range(m)
        ]
    zero = [[0.0] * n_codes for _ in range(m)]
    lut_lit = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in row])
                    for row in luts.get(ci, zero)
                ]
            )
            for ci in range(len(coarse))
        ]
    )
    return probed, lut_lit


def _ivfadc_score(
    enc: DataFrame,
    lut_lit,
    *,
    id_col: str,
    cell_col: str,
    code_col: str,
    k: int,
) -> DataFrame:
    """ADC-score an already-cell-filtered encoded frame and cut the
    top-k (TakeOrderedAndProject; rank over the k cut rows only)."""
    dist = F.round(
        F.aggregate(
            F.transform(
                F.col(code_col),
                lambda c, s: F.element_at(
                    F.element_at(
                        F.element_at(lut_lit, F.col(cell_col) + 1),
                        s + 1,
                    ),
                    c + 1,
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    top = (
        enc.select(
            F.col(id_col).alias("id"),
            F.col(cell_col).cast("int").alias("cell"),
            dist.alias("adc_dist2"),
        )
        .orderBy(F.col("adc_dist2").asc(), F.col("id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("adc_dist2").asc(), F.col("id").asc())
    return top.withColumn(
        "adc_rank", F.row_number().over(w).cast("int")
    ).select("id", "cell", "adc_rank", "adc_dist2")


def ivfpq_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    coarse: List[List[float]],
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVFADC search: probe the ``nprobe`` coarse cells nearest the
    query, and within them score candidates by ADC against the
    RESIDUAL lookup table of each probed cell (the query residual
    differs per cell, so each probed cell gets its own m x n_codes
    table — nprobe * m * n_codes driver floats, embedded as literals).

    The unprobed corpus is never touched: the cell filter is a pushed-
    down predicate on the encode projection — or FILE-LEVEL partition
    pruning when searching a stored index
    (:func:`ivfpq_topk_from_index`). Scoring is an m-term
    literal-table lookup per candidate; top-k is sort+limit
    (TakeOrderedAndProject), rank assigned over the k cut rows only.

    Returns (id, cell INT, adc_rank INT, adc_dist2 DOUBLE).
    """
    m = len(codebooks)
    dim = m * len(codebooks[0][0])
    probed, lut_lit = _probe_and_luts(
        query_vec, coarse, codebooks, nprobe
    )
    enc = ivfpq_encode(
        df, vec_col, coarse, codebooks,
        dim=dim, cell_col="__cell", code_col="__codes",
    ).filter(F.col("__cell").isin([int(c) for c in probed]))
    return _ivfadc_score(
        enc, lut_lit,
        id_col=id_col, cell_col="__cell", code_col="__codes", k=k,
    )


#: sidecar directory for the training-time quantization-error stats.
#: The leading underscore makes Spark's parquet reader skip it when the
#: INDEX ROOT is read, so the sidecar never pollutes search scans.
DRIFT_STATS_DIR = "_drift_stats"


def with_quant_error(
    df: DataFrame,
    vec_col: str,
    coarse: List[List[float]],
    codebooks: Codebooks,
    *,
    dim: int,
    out_col: str = "qerr_u",
) -> DataFrame:
    """Append each vector's total residual quantization energy in
    integer micro-units: sum over the m subspaces of the ASSIGNED
    code's squared distance to the residual subvector (the ``dd`` the
    encode argmin already computes — same rounding, same tie-break).
    Zero-shuffle projection; this is the quantity whose distribution
    shifts when a batch is out-of-distribution for frozen codebooks.
    """
    m = len(codebooks)
    cb = _cb_lit(codebooks)
    res = _with_cell_residual(
        df, vec_col, coarse, cell_col="__qe_cell", res_col="__qe_res"
    )
    err = F.aggregate(
        F.transform(
            _slices(F.col("__qe_res"), dim, m),
            lambda sv, s: _assign(sv, F.element_at(cb, s + 1))["dd"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return res.withColumn(
        out_col, F.round(err * F.lit(1e6)).cast("long")
    ).drop("__qe_cell", "__qe_res")


def _qerr_stats(
    df: DataFrame,
    vec_col: str,
    coarse: List[List[float]],
    codebooks: Codebooks,
    dim: int,
) -> tuple:
    """(n, mean_qerr_u, std_qerr_u) of the quantization-error energy —
    ONE exact-integer aggregate (count / sum / sum-of-squares as
    decimals; sum-of-squares peaks at n·qerr² ≲ 1e12·1e24 = 1e36 <
    decimal(38,0), so the accumulator cannot wrap at 100 TB row
    counts), no sort, no percentile collection."""
    import math

    qe = with_quant_error(df, vec_col, coarse, codebooks, dim=dim)
    d = F.col("qerr_u").cast("decimal(18,0)")
    row = qe.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(d), F.lit(0).cast("decimal(18,0)")).alias("s"),
        F.coalesce(
            F.sum(d * d), F.lit(0).cast("decimal(38,0)")
        ).alias("ss"),
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        return 0, 0, 0
    s, ss = int(row["s"]), int(row["ss"])
    mean_u = s // n
    var = max(0, ss // n - mean_u * mean_u)
    return n, mean_u, math.isqrt(var)


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    coarse: List[List[float]],
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ index: (id, codes) parquet PARTITIONED BY
    cell — the storage layout the module note promises. At 100 TB the
    index is ~m bytes per vector and a query's ``nprobe`` cell filter
    prunes at the FILE level (only nprobe of n_cells directories are
    even listed), so search cost is data-proportional to the probed
    cells, not the corpus. Codebooks stay driver-side artifacts (k·d
    floats) — persist them with the caller's model store.

    Also writes a 1-row ``_drift_stats`` sidecar (mean/std of the
    training corpus's quantization-error energy) that
    :func:`append_ivfpq_index` checks batches against — the in-path
    version of the retrain rule the round-8 OOD audit documented
    (in-distribution appends keep recall, OOD collapses it to 0.0).
    The underscore prefix keeps index reads from ever seeing it."""
    _write_index(df, path, coarse, codebooks, id_col, vec_col, "overwrite")
    m = len(codebooks)
    dim = m * len(codebooks[0][0])
    n, mean_u, std_u = _qerr_stats(df, vec_col, coarse, codebooks, dim)
    import os as _os

    df.sparkSession.createDataFrame(
        [(int(n), int(mean_u), int(std_u), 0)],
        "n long, mean_qerr_u long, std_qerr_u long, seq long",
    ).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(path, DRIFT_STATS_DIR)
    )


def _write_index(df, path, coarse, codebooks, id_col, vec_col, mode):
    """One encode+write body for build AND append — the stored layout
    (projection, partition column, codes) can never diverge between
    the two paths."""
    m = len(codebooks)
    dim = m * len(codebooks[0][0])
    enc = ivfpq_encode(
        df, vec_col, coarse, codebooks,
        dim=dim, cell_col="cell", code_col="codes",
    ).select(id_col, "cell", "codes")
    enc.write.mode(mode).partitionBy("cell").parquet(path)


def append_ivfpq_index(
    df: DataFrame,
    path: str,
    coarse: List[List[float]],
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_factor: float = 4.0,
    on_drift: str = "raise",
    cumulative_factor: float = 2.0,
) -> None:
    """Incremental maintenance of a stored index: append-encode a new
    document batch into the existing cell-partitioned parquet layout
    WITHOUT retraining — the coarse centroids and codebooks are FROZEN
    artifacts, so a vector encodes to the same (cell, codes) whether it
    arrived in the initial build or in any later batch. That makes
    append+search bit-identical to a full re-encode+search over the
    union corpus (pytest-proven), which is what lets the ANN store
    ride a growing crawl: per batch the cost is one encode pass over
    the BATCH (zero shuffle — ivfpq_encode is a projection) plus one
    partitioned write; the existing index files are never rewritten.

    Operational contract: batch ids must be new (the index is
    append-only storage, not an upsert table — dedupe upstream), and
    codebooks must be the ones the index was built with (they are the
    driver-side model artifact the caller persists). Quantization
    DRIFT is the price of frozen codebooks: vectors far from the
    training distribution quantize coarsely — the round-8 OOD audit
    (tools/ivfpq_append_audit.py) measured planted recall collapsing
    1.0 -> 0.0, not degrading, on an x5-scaled batch.

    That retrain rule is now IN-PATH: before writing, the batch's mean
    quantization-error energy (one exact-integer aggregate over the
    batch the append already scans) is compared against the training
    distribution stored by :func:`write_ivfpq_index`'s ``_drift_stats``
    sidecar. A batch whose mean exceeds
    ``train_mean + drift_factor * train_std`` is out-of-distribution
    for the frozen codebooks: ``on_drift="raise"`` (default) refuses
    the append with the measured numbers, ``"warn"`` appends but emits
    a warning, ``"ignore"`` skips the check (as does a pre-round-9
    index with no sidecar — a warning says so). The sidecar's absence
    is established with an explicit ``FileSystem.exists`` probe, not
    by matching exception text (ADVICE r9 — the message/error-class
    differs across Spark versions, and a guard must not change
    behavior with them); a sidecar that EXISTS but fails to read
    raises, whatever the error.

    DRIFT HISTORY (round 10): each accepted append writes one row
    ``(n, mean_qerr_u, std_qerr_u, seq)`` into the sidecar (seq 0 =
    the training row), so the sidecar is the index's drift ledger. A
    slow drift that stays under ``drift_factor`` per batch but
    compounds across appends is caught by a CUMULATIVE canary: when
    the n-weighted mean of all appended batches (including this one)
    exceeds ``train_mean + cumulative_factor * train_std`` (default
    2.0, half the hard threshold), a warning fires — always a warning,
    never a refusal; it is the retrain-soon signal, pytest-driven by a
    slow-drift sequence. Legacy single-row sidecars (no ``seq``) keep
    the hard guard but skip history (mixed parquet schemas are not
    appendable) — rebuild to enable the ledger. ``on_drift="ignore"``
    skips the ledger too (nothing is read, so nothing can be
    sequenced).
    """
    if on_drift not in ("raise", "warn", "ignore"):
        raise ValueError(
            f"on_drift must be raise|warn|ignore, got {on_drift!r}"
        )
    train = None
    hist: list = []
    next_seq = None
    n_b = mean_b = std_b = 0
    if on_drift != "ignore":
        import os as _os
        import warnings

        spark = df.sparkSession
        stats_path = _os.path.join(path, DRIFT_STATS_DIR)
        # explicit existence probe (ADVICE r9): only a genuinely
        # MISSING sidecar downgrades to unchecked; an existing one
        # that fails to read raises, whatever the exception text
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(stats_path)
        fs = hpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        if not fs.exists(hpath):
            warnings.warn(
                f"append_ivfpq_index: no {DRIFT_STATS_DIR} sidecar at "
                f"{path} (index built before the drift guard?) — "
                "appending UNCHECKED; rebuild with write_ivfpq_index "
                "to enable the guard",
                stacklevel=2,
            )
        else:
            rows = spark.read.parquet(stats_path).collect()
            if rows and "seq" in rows[0].asDict():
                train = min(rows, key=lambda r: r["seq"])
                hist = [r for r in rows if r["seq"] > train["seq"]]
                next_seq = max(r["seq"] for r in rows) + 1
            elif rows:
                # legacy 1-row sidecar: guard works, no history ledger
                train = rows[0]
        if train is not None:
            m = len(codebooks)
            dim = m * len(codebooks[0][0])
            n_b, mean_b, std_b = _qerr_stats(
                df, vec_col, coarse, codebooks, dim
            )
            limit = int(
                train["mean_qerr_u"]
                + drift_factor * train["std_qerr_u"]
            )
            if n_b > 0 and mean_b > limit:
                msg = (
                    "append_ivfpq_index: batch is out-of-distribution "
                    "for the frozen codebooks — mean quantization "
                    f"error {mean_b}u over {n_b} vectors exceeds "
                    f"train mean {int(train['mean_qerr_u'])}u + "
                    f"{drift_factor} x std {int(train['std_qerr_u'])}u "
                    f"= {limit}u. Planted recall collapses on such "
                    "batches (SCALING.md round-8 audit: 1.0 -> 0.0); "
                    "retrain+rebuild the index, or pass "
                    "on_drift='warn' to append anyway."
                )
                if on_drift == "raise":
                    raise ValueError(msg)
                warnings.warn(msg, stacklevel=2)
            # cumulative canary: the n-weighted mean of EVERY appended
            # batch (history + this one) vs the softer cumulative limit
            tot_n = sum(int(h["n"]) for h in hist) + n_b
            if tot_n > 0:
                cum_mean = (
                    sum(int(h["n"]) * int(h["mean_qerr_u"]) for h in hist)
                    + n_b * mean_b
                ) // tot_n
                cum_limit = int(
                    train["mean_qerr_u"]
                    + cumulative_factor * train["std_qerr_u"]
                )
                if cum_mean > cum_limit:
                    warnings.warn(
                        "append_ivfpq_index: CUMULATIVE drift — the "
                        f"n-weighted mean quantization error of all "
                        f"{len(hist) + 1} appended batches ({cum_mean}u "
                        f"over {tot_n} vectors) exceeds train mean "
                        f"{int(train['mean_qerr_u'])}u + "
                        f"{cumulative_factor} x std "
                        f"{int(train['std_qerr_u'])}u = {cum_limit}u. "
                        "Each batch passed the per-batch guard, but "
                        "the appended mass has drifted from the frozen "
                        "codebooks' training distribution — plan a "
                        "retrain+rebuild.",
                        stacklevel=2,
                    )
    _write_index(df, path, coarse, codebooks, id_col, vec_col, "append")
    if train is not None and next_seq is not None:
        import os as _os

        df.sparkSession.createDataFrame(
            [(int(n_b), int(mean_b), int(std_b), int(next_seq))],
            "n long, mean_qerr_u long, std_qerr_u long, seq long",
        ).coalesce(1).write.mode("append").parquet(
            _os.path.join(path, DRIFT_STATS_DIR)
        )


def ivfpq_topk_from_index(
    spark,
    path: str,
    query_vec: Sequence[float],
    coarse: List[List[float]],
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVFADC search over a STORED index (:func:`write_ivfpq_index`):
    no vector math, no encode — the probed-cell predicate becomes a
    parquet PartitionFilter (plan-asserted in tests/test_pq.py), so
    only nprobe of n_cells partition directories are scanned, and each
    candidate costs one m-term LUT sum over its stored codes. Result
    is identical to :func:`ivfpq_topk` over the source vectors
    (pytest-proven roundtrip)."""
    probed, lut_lit = _probe_and_luts(
        query_vec, coarse, codebooks, nprobe
    )
    idx = spark.read.parquet(path).filter(
        F.col("cell").isin([int(c) for c in probed])
    )
    # partition columns read back as the partition-directory type;
    # normalize for the LUT element_at arithmetic
    idx = idx.withColumn("cell", F.col("cell").cast("int"))
    return _ivfadc_score(
        idx, lut_lit,
        id_col=id_col, cell_col="cell", code_col="codes", k=k,
    )


def adc_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation: the query
    is quantized against nothing — its exact distance to every codebook
    centroid is tabled driver-side (m * n_codes floats), and each
    candidate costs an m-term literal-table lookup sum over its codes.
    Returns (id, adc_rank INT, adc_dist2 DOUBLE) — ranks assigned by a
    window over the already-cut k rows, never the corpus."""
    m = len(codebooks)
    dim = m * len(codebooks[0][0])
    q = [round(float(x), 9) for x in query_vec]
    dsub = dim // m
    lut = [
        [
            round(
                sum(
                    (q[s * dsub + t] - c[t]) ** 2 for t in range(dsub)
                ),
                6,
            )
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    lut_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in lut]
    )
    enc = pq_encode(df, vec_col, codebooks, dim=dim, code_col="__codes")
    dist = F.round(
        F.aggregate(
            F.transform(
                F.col("__codes"),
                lambda c, s: F.element_at(
                    F.element_at(lut_lit, s + 1), c + 1
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    top = (
        enc.select(F.col(id_col).alias("id"), dist.alias("adc_dist2"))
        .orderBy(F.col("adc_dist2").asc(), F.col("id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("adc_dist2").asc(), F.col("id").asc())
    return top.withColumn(
        "adc_rank", F.row_number().over(w).cast("int")
    ).select("id", "adc_rank", "adc_dist2")
