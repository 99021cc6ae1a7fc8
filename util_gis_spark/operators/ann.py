"""Approximate nearest neighbor over embeddings (array<float>).

- Exact cosine top-k (embed_topk_blocked; queries.q_embed_topk is
  its k=5 call): every probe in one list that ann_ivf_topk's fused
  kernel scores against the whole corpus in one pass, O(P x N).
- LSH variant: deterministic random-hyperplane signatures — bit
  j of the bucket is sign(dot(v, h_j)) with h_j[d] derived from an
  integer hash, so the SAME plane values are expressible in Spark
  (0-based transform index) and DuckDB (1-based) and the bucketing is
  engine-independent. Probes only compare against candidates in their
  bucket: O(P x N / 2^bits) — recall traded via `bits`.
- IVF variant (ann_ivf_topk): a coarse quantizer assigns every
  vector to its nearest-centroid inverted list; probes scan only their
  top-`nprobe` lists, exact cosine re-ranks. The ranked probe matrices
  ship in the task closure of one fused Arrow pass over the corpus;
  a probe set over a byte cap raises ValueError. Two
  quantizers: per-label means (SQL-expressible -> the driver oracle
  stays a real DuckDB twin) and kmeans_centroids (deterministic
  sampled k-means trained on a bounded driver sample — the real
  10^12-scale recipe, ~sqrt(N) lists, assignment distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import band_self_join
from .grouped import map_apply

N_PLANES = 6    # bits per table
N_TABLES = 16   # OR-ed hash tables
MULTIPROBE = 1  # 0 = exact bucket only; 1 = also probe all 1-bit flips

# Multi-table design note (r3): a single b-bit random-hyperplane table
# needs ALL b signs to agree, so for moderate-angle neighbors recall is
# (1-theta/pi)^b ~ 0 (measured 0.00 recall@1 on the sf0.01 corpus with
# one 8-bit table, scripts/ann_recall.py). Standard LSH uses L
# independent tables and ORs the candidate sets: collision prob
# 1-(1-p^b)^L. bits is the scale dial: grow b with log N, L with the
# recall target.
#
# Multiprobe note (r4): querying each table at the probe's bucket AND
# its b one-bit flips multiplies per-table collision odds without the
# index cost of more tables (the classic multiprobe-LSH trade: query
# fan-out is cheap, index memory is not). Defaults are the measured
# cheapest config with recall@1 >= 0.9 on the driver corpus
# (scripts/ann_recall.py --sweep: 16 tables x 6 bits multiprobe-1 ->
# recall@1 0.95). NOTE the honest caveat recorded in BENCH/BASELINE.md:
# the synthetic embeddings are weakly clustered (median NN cosine
# 0.41), so 0.9+ recall costs a ~64% corpus scan here; on clustered
# corpora (median NN cos 0.88) the same machinery reaches 0.95-1.0 at
# a quarter of the scan, and when the corpus has no cosine structure
# at all, IVF (recall 1.0 at full nprobe) or exact blocked top-k is
# the right path — LSH cannot beat the data.


def _plane_term(j: int, d_expr: str = "d", t_expr: str = "t") -> str:
    """plane(t, j, d) = (((t*977 + j)*131 + d) * 2654435761 % 2000)/1000 - 1.0.
    `t_expr` may be a literal or a COLUMN — both engines evaluate the
    same arithmetic, so the planes are engine-independent."""
    return f"(((({t_expr}*977 + {j})*131 + {d_expr}) * 2654435761) % 2000) / 1000.0 - 1.0"


def bucket_expr(v_col: str = "v", t_expr: str = "t", n_planes: int = N_PLANES) -> str:
    """Spark SQL expression: LSH bucket id of an array<double> column
    under hash table `t_expr` (0-based element index d)."""
    bits = []
    for j in range(n_planes):
        dot = (
            f"aggregate(transform({v_col}, (x, d) -> x * ({_plane_term(j, 'd', t_expr)})), "
            f"cast(0.0 as double), (a, x) -> a + x)"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def bucket_sql(v_col: str = "v", t_expr: str = "t", n_planes: int = N_PLANES) -> str:
    """DuckDB twin (1-based list index -> d = i-1)."""
    bits = []
    for j in range(n_planes):
        term = _plane_term(j, "(i-1)", t_expr)
        dot = (
            f"list_aggregate(list_transform(generate_series(1, len({v_col})), "
            f"i -> {v_col}[i] * ({term})), 'sum')"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def _cos_expr(a: str, b: str):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return dot / (norm(F.col(a)) * norm(F.col(b)))


def _flip_values(multiprobe: int, n_planes: int = N_PLANES) -> list[int]:
    """Bucket-id XOR masks probed per table: the exact bucket plus, at
    multiprobe=1, every 1-bit flip of the signature."""
    out = [0]
    if multiprobe:
        out += [1 << j for j in range(n_planes)]
    return out


def _fold_dots(a, b):
    """(n, dim) x (m, dim) -> (n, m) dot products, every element summed
    in ascending-d order: the sequential `aggregate` fold of the Column
    forms, so each double is bit-identical to theirs (a BLAS matmul
    would reorder the sum)."""
    import numpy as np

    out = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        out = out + a[:, d, None] * b[None, :, d]
    return out


def _fold_rowdots(a, b):
    """(n, dim) . (n, dim) -> (n,) row-wise dot products, in the same
    ascending-d order as _fold_dots."""
    import numpy as np

    out = np.zeros(a.shape[0])
    for d in range(a.shape[1]):
        out = out + a[:, d] * b[:, d]
    return out


def lsh_signatures_kernel(
    base: DataFrame, n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> DataFrame:
    """(vec_id, buckets array<long>[n_tables]) via a vectorized Arrow
    kernel — BIT-IDENTICAL to the Column form `bucket_expr` (asserted
    by a row-for-row parity test): the plane values are exact int64
    arithmetic in both, and the dot accumulates in ascending-d order
    exactly like Catalyst's sequential `aggregate` fold, so not even
    the float summation order differs. Exists because Catalyst
    evaluates higher-order-function lambdas INTERPRETED per element:
    16 tables x 6 planes x dim elements ~ 6k boxed lambda calls per
    row was the measured floor of the generated-corpus ladder (~30 s /
    50k vectors per consumer); the kernel does the same flops
    vectorized across rows (~100x)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("buckets", T.ArrayType(T.LongType())),
        ]
    )

    planes = {}  # per worker: (n_tables * n_planes, dim) planes by embedding dim

    def run(pdf):
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        n, dim = m.shape
        if dim not in planes:
            # plane(t, j, d) exactly as _plane_term: int64 products
            # stay < 2^63 (max base ~1.9e6 * 2654435761 ~ 5.1e15)
            t_i = np.arange(n_tables, dtype=np.int64)[:, None, None]
            j_i = np.arange(n_planes, dtype=np.int64)[None, :, None]
            d_i = np.arange(dim, dtype=np.int64)[None, None, :]
            planes[dim] = (
                (((t_i * 977 + j_i) * 131 + d_i) * 2654435761) % 2000
            ).reshape(-1, dim) / 1000.0 - 1.0
        # bit j of table t is the sign of plane t * n_planes + j
        signs = (_fold_dots(m, planes[dim]) > 0).reshape(n, n_tables, n_planes)
        buckets = (signs << np.arange(n_planes)).sum(axis=2)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"].to_numpy(np.int64), "buckets": list(buckets)}
        )

    # NULL embeddings are skipped: the Column form's posexplode of a
    # NULL bucket array yields zero rows for them anyway
    return map_apply(base.select("vec_id", "v"), run, schema, skip_null=("v",))


def ann_lsh_topk(
    embeddings_df: DataFrame,
    probe_filter: str = "vec_id % 100 = 0",
    k: int = 3,
    multiprobe: int = MULTIPROBE,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Top-k cosine neighbors per probe among candidates colliding in
    ANY of the `n_tables` LSH tables, with the probe side fanned out to
    its bucket's 1-bit flips at multiprobe=1 (query-directed probing:
    candidate volume grows ~(1+bits)x per table, index size doesn't).
    Output (probe_id, neighbor_id, cos_sim).

    `n_tables`/`n_planes`/`multiprobe` are the scale dial (module
    defaults = the measured recall@1>=0.9 config on the driver corpus):
    grow n_planes with log N to keep buckets sparse, n_tables and
    multiprobe with the recall target.

    `probe_filter` may reference ONLY the narrow signature columns
    (vec_id, t, bucket) — it is applied after the embedding array has
    been pruned off the probe side (the r5 narrow-join change: carrying
    v through the bucket join put ~16 GB through the exchange). A
    predicate over the embedding column is rejected eagerly here."""
    base = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # signatures via the vectorized Arrow kernel (bit-identical to the
    # bucket_expr Column form — parity-tested)
    e_nar = lsh_signatures_kernel(base, n_tables, n_planes).select(
        "vec_id", F.posexplode("buckets").alias("t", "bucket")
    )
    from pyspark.errors import AnalysisException

    try:
        filtered = e_nar.filter(probe_filter)
        filtered.schema  # force analysis now, not at action time
    except AnalysisException as exc:
        # only analysis failures are rebranded (r6 review: a blanket
        # except turned transient Py4J/JVM errors into a misleading
        # invalid-filter message); anything else propagates as-is
        raise ValueError(
            f"probe_filter {probe_filter!r} must only reference the "
            f"narrow signature columns (vec_id, t, bucket): {exc}"
        ) from exc
    flips = ", ".join(str(f) for f in _flip_values(multiprobe, n_planes))
    # the bucket join carries ONLY (t, bucket, id) — the same narrow-
    # shuffle rule the minhash band join follows. On a CLUSTERED corpus
    # a probe's cluster collides in EVERY table x flip, so a (probe,
    # cand) pair rides the join up to tables x (1+bits) = 112 times;
    # shipping both 64-dim arrays through that duplication put ~16 GB
    # through the dedup exchange at 500 probes x 50k vectors (measured
    # 352 s; narrow join + attach-by-key after the dedup + the Arrow
    # signature kernel: 15 s, same rows).
    probes = (
        filtered
        .withColumn("_f", F.explode(F.expr(f"array({flips})")))
        .select(
            F.col("vec_id").alias("probe_id"),
            "t",
            F.expr("bucket ^ _f").cast("long").alias("bucket"),
        )
    )
    cand = (
        probes.join(e_nar, ["t", "bucket"])
        .filter(F.col("probe_id") != F.col("vec_id"))
        .dropDuplicates(["probe_id", "vec_id"])
    )
    joined = cand.join(
        base.select(F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")), "probe_id"
    ).join(base, "vec_id")
    # cosine via the same ordered-fold Arrow idiom as the signature
    # kernel (ascending-d accumulation == the _cos_expr HOF fold, so
    # the raw doubles are identical; parity-tested). Rounding stays a
    # JVM F.round so the oracle's BigDecimal HALF_UP semantics are
    # byte-for-byte unchanged. The HOF form scored ~64 interpreted
    # lambda calls per pair — the dominant cost at 10^6 candidate
    # pairs on the generated ladder.
    return _round_topk(
        _cos_kernel(joined.select("probe_id", F.col("vec_id").alias("neighbor_id"), "pv", "v")),
        k,
    )


def _round_topk(scored: DataFrame, k: int, *carry: str) -> DataFrame:
    """The tail of all three top-k operators: round cos_raw to 5
    decimals in the JVM (F.round, the oracles' HALF_UP semantics), then
    keep each probe's top `k` by (cos_sim desc, neighbor_id). A NaN
    cosine arrives as NULL through Arrow and ranks last. Output
    (probe_id, neighbor_id, cos_sim, *carry)."""
    out = scored.select(
        "probe_id", "neighbor_id", F.round("cos_raw", 5).alias("cos_sim"), *carry
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return out.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")


def _combine_label_partials(rows, dim: int) -> list[tuple[int, list[float]]]:
    """Deterministic in-order driver combine of (part, label, n, s)
    partial rows -> sorted (label, mean) list."""
    import numpy as np

    acc: dict[int, tuple[int, "np.ndarray"]] = {}
    for r in sorted(rows, key=lambda r: (r["part"], r["label"])):
        n0, s0 = acc.get(int(r["label"]), (0, np.zeros(dim)))
        acc[int(r["label"])] = (n0 + int(r["n"]), s0 + np.asarray(r["s"], dtype=np.float64))
    return sorted((lab, (s / n).tolist()) for lab, (n, s) in acc.items())


def _probes_and_label_partials(e: DataFrame, probe_filter: str):
    """ONE corpus pass serving both eager questions of the label-mean
    quantizer: the probe rows (probe_filter true, v not null) AND the
    per-batch centroid partials (label, count, sums), ~25 x 520 B per
    batch — the map-side-aggregation shape, combined on the driver by
    _combine_label_partials in ascending (partition, label) order. A
    64-column `avg(v[i])` gives the same means but costs ~2.5 s of
    Catalyst + Janino driver time per call. NULL embeddings are
    skipped, as avg() skips them. The probe predicate is evaluated
    JVM-side (F.expr, so arbitrary SQL over vec_id/label/v keeps
    working) and rides the batch as a boolean column; the kernel
    splits each batch into partial rows (kind=0) and probe rows
    (kind=1). Returns (probe pandas DataFrame[vec_id, v], partial row
    list)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("kind", T.IntegerType()),
            T.StructField("part", T.LongType()),
            T.StructField("label", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("vec_id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(pdf):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        frames = []
        labs, ns, sums = [], [], []
        for lab, idx in pdf.groupby("label", sort=True).indices.items():
            sub = np.vstack(pdf["v"].iloc[idx].to_numpy()).astype(np.float64)
            labs.append(int(lab))
            ns.append(len(sub))
            sums.append(sub.sum(axis=0).tolist())
        if labs:
            frames.append(
                pd.DataFrame(
                    {
                        "kind": np.zeros(len(labs), dtype=np.int32),
                        "part": np.full(len(labs), pid),
                        "label": labs,
                        "n": ns,
                        "s": sums,
                        "vec_id": np.zeros(len(labs), dtype=np.int64),
                        "v": [None] * len(labs),
                    }
                )
            )
        pr = pdf[pdf["_is_probe"].fillna(False).astype(bool)]
        if len(pr):
            frames.append(
                pd.DataFrame(
                    {
                        "kind": np.ones(len(pr), dtype=np.int32),
                        "part": np.full(len(pr), pid),
                        "label": np.zeros(len(pr), dtype=np.int64),
                        "n": np.zeros(len(pr), dtype=np.int64),
                        "s": [None] * len(pr),
                        "vec_id": pr["vec_id"].to_numpy(np.int64),
                        "v": pr["v"].tolist(),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else None

    src = e.withColumn("_is_probe", F.expr(probe_filter)).select(
        "vec_id", "label", "v", "_is_probe"
    )
    rows = map_apply(src, run, schema, skip_null=("v",)).collect()
    partials = [r for r in rows if r["kind"] == 0]
    probes = [r for r in rows if r["kind"] == 1]
    ppdf = pd.DataFrame(
        {
            "vec_id": [int(r["vec_id"]) for r in probes],
            "v": [list(r["v"]) for r in probes],
        }
    )
    return ppdf, partials


def _rank_probes_local(cent_rows: list[tuple[int, list[float]]], ppdf, nprobe: int) -> dict:
    """Driver-side ranking of each probe's top `nprobe` lists, with the
    decisions of a Spark window over the probe x centroid dots: the dot
    accumulates in ascending-d order (== a sequential `aggregate`
    fold), and lists order by (dot desc, list_id asc) like orderBy with
    row_number (cent_rows arrive sorted by list_id). A NaN dot ranks
    FIRST, as Spark's descending order puts NaN above every number.
    Returns the per-list probe matrices
    {list_id: (pids int64[], P float64[n, dim])} that
    _assign_score_kernel consumes."""
    import numpy as np

    if len(ppdf) == 0 or not cent_rows:
        return {}
    lids = np.array([lid for lid, _ in cent_rows], dtype=np.int64)
    C = np.array([c for _, c in cent_rows], dtype=np.float64)  # k x dim
    P = np.vstack(ppdf["v"].to_numpy()).astype(np.float64)
    pids = ppdf["vec_id"].to_numpy(np.int64)
    dot = _fold_dots(P, C)
    nan = np.isnan(dot)
    neg = np.where(nan, 0.0, -dot)
    take = max(min(nprobe, len(lids)), 0)
    # one row-wise sort, last key primary: NaN first, then dot desc,
    # then list_id
    picks = np.lexsort((np.broadcast_to(lids, dot.shape), neg, ~nan), axis=1)[:, :take]
    member = np.zeros(dot.shape, dtype=bool)
    np.put_along_axis(member, picks, True, axis=1)
    # lists in the order the probes first pick them; probes in row order
    flat = picks.ravel()
    first = np.sort(np.unique(flat, return_index=True)[1])
    return {int(lids[j]): (pids[member[:, j]], P[member[:, j]]) for j in flat[first]}


# Elements per pruning matmul, as joins._grid_nearest_all sizes its
# distance matrix (32 MB float64): bounds memory per Arrow batch.
_SCORE_BLOCK_ELEMS = 1 << 22

# Bound on |matmul cosine - fold cosine| for finite vectors whose squared
# norms do not overflow: each dot errs by at most ~dim * 2^-53 * |p||b|
# in any summation order, and both divide by the same fold norms, so the
# gap is ~dim * 2^-52 (1.4e-14 at 64 dims, < 2.3e-10 below 10^6 dims).
_FOLD_GAP = 1e-9


def _prune_rescore(pids, P, pnorm, cids, B, bnorm, k: int, chunk: int):
    """(pi, bi, cos): the pairs of probes (pids, P) x candidates (cids,
    B) that survive the quantum-safe top-k cut, self pairs excluded, as
    row indices plus their fold cosines (pnorm, bnorm: fold norms).
    Spark-free, so the property tests check it against brute force.

    A BLAS matmul over `chunk` probe rows at a time gives cosines `a`;
    per probe, kth is the k-th largest finite `a`, and a pair is dropped
    only when a < kth - 1e-5 - 2 * _FOLD_GAP. Then k pairs have fold
    cosines >= kth - _FOLD_GAP and the dropped one's is below kth - 1e-5
    - _FOLD_GAP: each beats it by more than one rounding quantum, hence
    by a strictly larger ROUNDED value (|round5(x) - x| <= 0.5e-5), so
    it cannot enter the rounded top-k whatever the neighbor_id
    tie-break. NaN cosines (0/0 from a zero-norm vector) are never the
    kth and never dropped: they reach the JVM as NULL, which ranks last,
    and a probe with fewer than k finite cosines must still get them.
    Survivors are rescored with _fold_rowdots, so each double is
    bit-identical to the ascending-d fold of the JVM form and the
    DuckDB twins."""
    import numpy as np

    kk = min(k, len(cids))
    found_p, found_b = [], []
    for s in range(0, len(P), chunk):
        with np.errstate(invalid="ignore", divide="ignore"):
            a = (P[s : s + chunk] @ B.T) / (pnorm[s : s + chunk, None] * bnorm[None, :])
        keep = pids[s : s + chunk, None] != cids[None, :]
        ranked = np.where(keep & ~np.isnan(a), a, -np.inf)
        kth = -np.partition(-ranked, kk - 1, axis=1)[:, kk - 1]
        keep &= ~(a < kth[:, None] - 1e-5 - 2 * _FOLD_GAP)
        pi, bi = np.nonzero(keep)
        found_p.append(pi + s)
        found_b.append(bi)
    pi, bi = np.concatenate(found_p), np.concatenate(found_b)
    with np.errstate(invalid="ignore", divide="ignore"):
        cos = _fold_rowdots(P[pi], B[bi]) / (pnorm[pi] * bnorm[bi])
    return pi, bi, cos


def _assign_score_kernel(
    e: DataFrame, cent_rows: list[tuple[int, list[float]]], pmap: dict, k: int
) -> DataFrame:
    """(probe_id, neighbor_id, list_id, cos_raw): the one cosine top-k
    scoring kernel, a FUSED corpus pass — ONE Arrow trip assigns each
    corpus vector to its list and scores it against that list's probes
    (_prune_rescore). The centroid matrix and the per-list probe
    matrices ride the task closure (serialized once per stage into the
    torrent-broadcast task binary, so they cost per executor, not per
    task or per candidate row). ann_ivf_topk passes one list per
    centroid; embed_topk_blocked passes one list that holds every
    probe, whose lone centroid takes every vector.

    Bit-identical doubles to the pair-at-a-time JVM form (_cos_expr
    after a dot-desc, list_id-asc window assignment; parity-tested):
    the assignment argmax and the rescoring folds accumulate in
    ascending-d order, first-max tie-break == smaller list_id.

    Emits a PRUNED superset of the final rows: per (probe, list,
    batch), _prune_rescore keeps every candidate that could still
    enter the rounded top-k, so the JVM round + window downstream
    (_round_topk) keep exactly the rows an unpruned pass would."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    lids = np.array([lid for lid, _ in cent_rows], dtype=np.int64)
    C = np.array([c for _, c in cent_rows], dtype=np.float64)  # k x dim
    block_elems = _SCORE_BLOCK_ELEMS  # the driver's value, not the worker's

    schema = T.StructType(
        [
            T.StructField("probe_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("list_id", T.LongType()),
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )

    def run(pdf):
        V = np.vstack(pdf["v"].to_numpy()).astype(np.float64)  # n x dim
        cids = pdf["vec_id"].to_numpy(np.int64)
        assigned = lids[np.argmax(_fold_dots(V, C), axis=1)]  # first max -> smallest list_id
        vnorm = np.sqrt(_fold_rowdots(V, V))
        out_p, out_n, out_l, out_c = [], [], [], []
        for lid, (pids, P) in pmap.items():
            sel = np.flatnonzero(assigned == lid)
            if not len(sel):
                continue
            chunk = max(min(len(P), block_elems // len(sel)), 1)
            pnorm = np.sqrt(_fold_rowdots(P, P))
            pi, bi, cos = _prune_rescore(pids, P, pnorm, cids[sel], V[sel], vnorm[sel], k, chunk)
            out_p.append(pids[pi])
            out_n.append(cids[sel][bi])
            out_l.append(np.full(len(pi), int(lid), dtype=np.int64))
            out_c.append(cos)
        if not out_p:
            return None
        return pd.DataFrame(
            {
                "probe_id": np.concatenate(out_p),
                "neighbor_id": np.concatenate(out_n),
                "list_id": np.concatenate(out_l),
                "cos_raw": np.concatenate(out_c),
            }
        )

    # NULL embeddings can never be neighbors: skipped like the
    # probe/centroid pass skips them
    return map_apply(e.select("vec_id", "v"), run, schema, skip_null=("v",))


def _cos_kernel(pairs: DataFrame) -> DataFrame:
    """(probe_id, neighbor_id, cos_raw) from (probe_id, neighbor_id,
    pv, v) — vectorized across pairs, accumulating in ascending-d
    order so each double is bit-identical to the sequential
    aggregate/zip_with fold of _cos_expr."""
    import numpy as np
    import pandas as pd

    def run(pdf):
        a = np.vstack(pdf["pv"].to_numpy()).astype(np.float64)
        b = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {
                "probe_id": pdf["probe_id"].to_numpy(np.int64),
                "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                "cos_raw": _fold_rowdots(a, b)
                / (np.sqrt(_fold_rowdots(a, a)) * np.sqrt(_fold_rowdots(b, b))),
            }
        )

    return map_apply(pairs, run, "probe_id long, neighbor_id long, cos_raw double")


def kmeans_centroids(
    embeddings_df: DataFrame,
    k: int,
    iters: int = 10,
    sample: int = 100_000,
    seed: int = 7,
) -> list[tuple[int, list[float]]]:
    """Deterministic sampled k-means for the IVF coarse quantizer —
    the real 10^12-scale recipe (train on a bounded driver sample,
    assign the full corpus distributed). Lloyd's iterations on
    L2-normalized vectors with spherical (max-dot) assignment;
    k-means++-style seeding from a seeded RNG; empty clusters respawn
    on the farthest point. Returns [(list_id, centroid)] with
    list_id = 0..k-1 — feed to ann_ivf_topk(centroids=...).

    Everything is deterministic (fixed seed, fixed sample order), so
    two runs — or the engine and a numpy replica in the tests — build
    the identical quantizer. The sample takes non-NULL embeddings only,
    and drops rows whose norm is zero or not finite before
    normalizing: they have no direction to train on."""
    import numpy as np

    pdf = (
        embeddings_df.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
        .orderBy("vec_id")
        .limit(sample)
        .toPandas()
    )
    if len(pdf) == 0:
        return []
    m = np.stack(pdf["v"].to_numpy())
    norm = np.linalg.norm(m, axis=1, keepdims=True)
    ok = np.isfinite(norm[:, 0]) & (norm[:, 0] > 0)
    m = m[ok] / norm[ok]
    n = len(m)
    if n == 0:
        return []
    k = min(k, n)
    rng = np.random.default_rng(seed)
    # k-means++ seeding on cosine distance (1 - dot)
    cent = [m[int(rng.integers(n))]]
    for _ in range(1, k):
        d = 1.0 - np.max(np.stack([m @ c for c in cent]), axis=0)
        d = np.clip(d, 1e-12, None)
        cent.append(m[int(rng.choice(n, p=d / d.sum()))])
    C = np.stack(cent)
    for _ in range(iters):
        assign = np.argmax(m @ C.T, axis=1)
        # respawn empty clusters on DISTINCT farthest points: taking
        # argmin once gave every simultaneously-empty cluster the SAME
        # point, leaving duplicate centroids whose ties always resolve
        # to the smaller list_id — the twin list stayed permanently
        # empty (r5 review)
        far_order = np.argsort((m * C[assign]).sum(axis=1))
        far_i = 0
        for j in range(k):
            members = m[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
            else:
                C[j] = m[int(far_order[min(far_i, n - 1)])]
                far_i += 1
    return [(j, C[j].tolist()) for j in range(k)]


# Byte cap on the per-list probe matrices _assign_score_kernel ships in
# a task closure: every probe sits in min(nprobe, lists) matrices as an
# int64 id plus dim float64s (500 probes x nprobe 3 x 520 B ~ 0.8 MB at
# 64 dims; embed_topk_blocked's one list is nprobe = lists = 1). Same
# 64 MB convention as joins.EDGES_BROADCAST_BYTES. Over it, ann_ivf_topk
# and embed_topk_blocked refuse.
_CLOSURE_MAX_PROBE_BYTES = 64 << 20


def _probe_matrix_bytes(n_probes: int, dim: int, nprobe: int, n_lists: int) -> int:
    """Size of what _rank_probes_local builds for n_probes probes."""
    return n_probes * max(min(nprobe, n_lists), 0) * (dim + 1) * 8


def _check_probe_bytes(caller: str, n_probes: int, dim: int, nprobe: int, n_lists: int) -> None:
    size = _probe_matrix_bytes(n_probes, dim, nprobe, n_lists)
    if size > _CLOSURE_MAX_PROBE_BYTES:
        raise ValueError(
            f"{caller}: probe matrices exceed {_CLOSURE_MAX_PROBE_BYTES} bytes "
            f"(at least {size}); narrow probe_filter or use the LSH/IVF path "
            "(ann_lsh_topk, or ann_ivf_topk with a smaller nprobe)"
        )


def _collect_probes(
    e: DataFrame, probe_filter: str, caller: str, dim: int, nprobe: int, n_lists: int
):
    """Bounded probe ingestion: the (vec_id, v) rows matching
    probe_filter, NULL embeddings skipped (np.vstack would crash on
    them), collected over Arrow with limit(cap_rows + 1) so an over-cap
    probe set never reaches the driver; over the cap, ValueError."""
    cap_rows = _CLOSURE_MAX_PROBE_BYTES // max(_probe_matrix_bytes(1, dim, nprobe, n_lists), 1)
    ppdf = (
        e.filter(probe_filter)
        .filter(F.col("v").isNotNull())
        .select("vec_id", "v")
        .limit(cap_rows + 1)
        .toPandas()
    )
    _check_probe_bytes(caller, len(ppdf), dim, nprobe, n_lists)
    return ppdf


def ann_ivf_topk(
    embeddings_df: DataFrame,
    probe_filter: str = "vec_id % 100 = 0",
    k: int = 3,
    nprobe: int = 3,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF top-k: coarse-quantize every vector to its max-dot centroid
    list, probe the top `nprobe` lists per query vector, exact-cosine
    re-rank within them. Output (probe_id, neighbor_id, cos_sim,
    list_id).

    `centroids=None` uses per-label elementwise means — deterministic
    and SQL-expressible, which is what keeps the driver oracle a real
    DuckDB twin. Pass kmeans_centroids(...) output for the production
    quantizer (sampled k-means, ~sqrt(N) lists at scale).

    The call is eager and makes two corpus passes. (1) One collects
    the probe rows (probe_filter true, embedding not NULL); on the
    label path it also yields the centroid partials. numpy then
    ranks each probe's top `nprobe` lists (_rank_probes_local). (2) The
    per-list probe matrices ship in the task closure of ONE fused
    corpus pass (_assign_score_kernel: assign + score + quantum-safe
    top-k prune), and a JVM round + window keeps the top `k`.

    When those matrices, probes x min(nprobe, lists) x (dim + 1) x 8 B,
    would exceed _CLOSURE_MAX_PROBE_BYTES, the call raises ValueError;
    narrow probe_filter, lower nprobe or use ann_lsh_topk. With
    explicit centroids the probe collect is _collect_probes, bounded by
    limit(cap_rows + 1), so an over-cap probe set never reaches the
    driver; on the label path it shares a job with the centroid
    partials and is not bounded."""
    e = embeddings_df.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    if centroids is None:
        ppdf, partials = _probes_and_label_partials(e, probe_filter)
        dim = len(ppdf["v"].iloc[0]) if len(ppdf) else 0
        cent_rows = _combine_label_partials(partials, dim) if dim else []
        _check_probe_bytes("ann_ivf_topk", len(ppdf), dim, nprobe, len(cent_rows))
    else:
        cent_rows = sorted((int(i), [float(x) for x in c]) for i, c in centroids)
        dim = len(cent_rows[0][1]) if cent_rows else 0
        ppdf = _collect_probes(e, probe_filter, "ann_ivf_topk", dim, nprobe, len(cent_rows))
    pmap = _rank_probes_local(cent_rows, ppdf, nprobe)
    if not pmap:  # empty corpus, nothing matched the filter, or no lists
        return embeddings_df.sparkSession.createDataFrame(
            [], "probe_id long, neighbor_id long, cos_sim double, list_id long"
        )
    return _round_topk(_assign_score_kernel(e, cent_rows, pmap, k), k, "list_id")


def ann_ivf_topk_sql(probe_filter: str = "vec_id % 100 = 0", k: int = 3, nprobe: int = 3) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT label AS list_id, list(valavg ORDER BY pos) AS c FROM (
    SELECT label, g.pos, avg(e.v[g.pos]) AS valavg
    FROM e, LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS pos) g
    GROUP BY label, g.pos
  ) GROUP BY label
), ranked AS (
  SELECT vec_id, v, list_id,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY list_aggregate(list_transform(list_zip(v, c), t -> t[1] * t[2]), 'sum') DESC,
                    list_id
         ) AS _rk
  FROM e CROSS JOIN cents
), assigned AS (
  SELECT vec_id, v, list_id FROM ranked WHERE _rk = 1
), probes AS (
  SELECT vec_id AS probe_id, v AS pv, list_id
  FROM ranked WHERE _rk <= {nprobe} AND {probe_filter}
), scored AS (
  SELECT p.probe_id, a.vec_id AS neighbor_id, p.list_id,
         round(
           list_aggregate(list_transform(list_zip(p.pv, a.v), t -> t[1] * t[2]), 'sum')
           / (sqrt(list_aggregate(list_transform(p.pv, x -> x*x), 'sum'))
              * sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))),
           5) AS cos_sim
  FROM probes p JOIN assigned a ON p.list_id = a.list_id AND p.probe_id <> a.vec_id
)
SELECT probe_id, neighbor_id, cos_sim, list_id FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS _rk
  FROM scored
) WHERE _rk <= {k}
"""


def embed_cosine_dups(embeddings_df: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from the LSH
    bucket join (never all-pairs — at 10^12 vectors the bucket count
    scales with `bits`), exact cosine verify at `threshold`. Output
    (vec_a, vec_b, cos_sim), vec_a < vec_b. The dedup-flavored twin of
    ann_lsh_topk (pairs above a similarity bar instead of top-k).

    Same shuffle discipline as ann_lsh_topk (r6 review — this operator
    had kept the pre-r5 wide shape): signatures come from the
    vectorized Arrow kernel (the interpreted-HOF Column form costs
    ~6k boxed lambda calls per row), the band self-join carries ONLY
    (band = table, bh = bucket, id), and the embedding arrays
    re-attach by id after the pair dedup — a clustered bucket
    duplicates each pair up to n_tables times, and shipping both
    arrays through that duplication is the measured ~16 GB exchange
    the narrow form replaced. Doubles
    are bit-identical either way (kernel==Column parity is tested;
    rounding stays JVM F.round)."""
    base = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e_nar = lsh_signatures_kernel(base).select(
        "vec_id", F.posexplode("buckets").alias("band", "bh")
    )
    joined = (
        band_self_join(e_nar, "vec_id")
        .join(base.select(F.col("vec_id").alias("a"), F.col("v").alias("pv")), "a")
        .join(base.select(F.col("vec_id").alias("b"), "v"), "b")
    )
    scored = _cos_kernel(
        joined.select(F.col("a").alias("probe_id"), F.col("b").alias("neighbor_id"), "pv", "v")
    ).select(
        F.col("probe_id").alias("vec_a"),
        F.col("neighbor_id").alias("vec_b"),
        F.round("cos_raw", 5).alias("cos_sim"),
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def embed_cosine_dups_sql(threshold: float = 0.3) -> str:
    return f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), tables AS (
  SELECT unnest(generate_series(0, {N_TABLES - 1})) AS t
), e AS (
  SELECT vec_id, v, t, CAST({bucket_sql('v')} AS BIGINT) AS bucket FROM e0 CROSS JOIN tables
), cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b, l.v AS va, r.v AS vb
  FROM e l JOIN e r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id
), scored AS (
  SELECT vec_a, vec_b,
         round(
           list_aggregate(list_transform(list_zip(va, vb), p -> p[1] * p[2]), 'sum')
           / (sqrt(list_aggregate(list_transform(va, x -> x*x), 'sum'))
              * sqrt(list_aggregate(list_transform(vb, x -> x*x), 'sum'))),
           5) AS cos_sim
  FROM cand
)
SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= {threshold}
"""


def ann_lsh_topk_sql(
    probe_filter: str = "vec_id % 100 = 0",
    k: int = 3,
    multiprobe: int = MULTIPROBE,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> str:
    flips = ", ".join(str(f) for f in _flip_values(multiprobe, n_planes))
    return f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), tables AS (
  SELECT unnest(generate_series(0, {n_tables - 1})) AS t
), e AS (
  SELECT vec_id, v, t, CAST({bucket_sql('v', 't', n_planes)} AS BIGINT) AS bucket FROM e0 CROSS JOIN tables
), flips AS (
  SELECT unnest([{flips}]) AS f
), probes AS (
  SELECT vec_id AS probe_id, v AS pv, t, xor(bucket, f) AS bucket
  FROM e CROSS JOIN flips WHERE {probe_filter}
), cand AS (
  SELECT DISTINCT p.probe_id, e.vec_id AS neighbor_id, p.pv, e.v
  FROM probes p JOIN e ON p.t = e.t AND p.bucket = e.bucket AND p.probe_id <> e.vec_id
), scored AS (
  SELECT probe_id, neighbor_id,
         round(
           list_aggregate(list_transform(list_zip(pv, v), p -> p[1] * p[2]), 'sum')
           / (sqrt(list_aggregate(list_transform(pv, x -> x*x), 'sum'))
              * sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum'))),
           5) AS cos_sim
  FROM cand
)
SELECT probe_id, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS _rk
  FROM scored
) WHERE _rk <= {k}
"""


def embed_topk_blocked(
    embeddings_df: DataFrame,
    probe_filter: str = "vec_id % 100 = 0",
    k: int = 5,
) -> DataFrame:
    """EXACT cosine top-k: every probe goes into ONE list that
    _assign_score_kernel scores against the whole corpus in one pass,
    the probe matrix riding the task closure; _round_topk finishes it.
    Output (probe_id, neighbor_id, cos_sim), self excluded, (cos desc,
    neighbor_id) tie-break; NULL embeddings are skipped on both sides,
    and a zero-norm vector's cosines are NULL and rank last.

    The probe ingestion is ann_ivf_topk's explicit-centroid one,
    _collect_probes: Arrow (toPandas -> numpy columns, never per-row
    Python objects) and BYTE-capped: above _CLOSURE_MAX_PROBE_BYTES
    (64 MB, ~129k probes x 64 dims) it REFUSES and points at LSH/IVF —
    the cap is enforced with limit(cap_rows+1) inside the ingestion
    job, bounding the transfer itself, not just the kept matrix."""
    import numpy as np

    e = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    empty = embeddings_df.sparkSession.createDataFrame(
        [], "probe_id long, neighbor_id long, cos_sim double"
    )
    # dim probe skips NULL embeddings: size(NULL) is NULL, and the row
    # the scan happens to return first need not be a probe row, so an
    # unrelated NULL would TypeError the byte-cap arithmetic (review r6)
    first = e.filter(F.col("v").isNotNull()).select(F.size("v").alias("d")).first()
    if first is None:
        return empty
    dim = int(first["d"])
    ppdf = _collect_probes(e, probe_filter, "embed_topk_blocked", dim, 1, 1)
    if len(ppdf) == 0:
        return empty
    pmap = {
        0: (ppdf["vec_id"].to_numpy(np.int64), np.vstack(ppdf["v"].to_numpy()).astype(np.float64))
    }
    return _round_topk(_assign_score_kernel(e, [(0, [0.0] * dim)], pmap, k), k)
