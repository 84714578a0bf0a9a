"""IVF (inverted-file) approximate nearest-neighbor search: a
deterministic mini k-means coarse quantizer + probe-nearest-partitions
search. The second ANN strategy next to SRP-LSH
(``extensions/similarity.py``) — IVF adapts to the data distribution
(centroids follow density) where LSH is data-oblivious.

This is also the repo's iterative-algorithm representative: k-means
loops driver-side over DataFrame jobs — each iteration is one assign
(broadcast centroids, argmin over K distances) + one re-center
(groupBy decimal-exact sum + one IEEE division) — the classic Spark
iterative shape. Determinism: centroids initialize from the K
smallest vec_ids (no RNG), iterate a fixed number of rounds, and
re-center order-free — which is what lets the DuckDB oracle unroll
the loop and replay training bit-for-bit
(plans/catalog_extensions.py ``_kmeans_chain``).

Scale: the corpus is written partitioned by centroid id; a query
probes ``nprobe`` nearest centroids → reads ~nprobe/K of the data.
Candidate generation is a broadcast semi-join on centroid id — no
all-pairs anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import _as_double, cosine, cosine_arrow

N_ITER = 3
#: cap on the k-means training-set size: above this the trainer
#: down-samples deterministically (id % mod == 0). Centroid quality
#: needs a representative sample, not the full corpus — full-corpus
#: assign/re-center rounds at 100 TB would be n_iter extra passes.
TRAIN_SAMPLE_CAP = 65_536
#: cap on K for the catalog defaults: auto_k clamps here so centroids
#: stay a literal expression array (fine to a few hundred). _assign
#: itself is NOT capped — above ASSIGN_LITERAL_MAX it switches to the
#: broadcast-table-join path, so a warehouse-scale caller can raise K
#: with sqrt(N) (keeping SemDeDup's per-cluster work bounded) without
#: hitting a literal-size wall.
K_MAX = 256
#: centroid count above which _assign swaps the Arrow-kernel argmax
#: for a broadcast join + partial-agg argmax (same semantics,
#: pytest-pinned). Since round 4 the small-K path is a kernel, not a
#: literal expression array, so the cap is a closure-size/flops bound
#: (K x dim doubles ride in the UDF pickle; per-batch work is K x dim
#: numpy column ops), not a Catalyst literal-size bound.
ASSIGN_LITERAL_MAX = 4096


def _centroid_array_col(centroids: list[tuple[int, list[float]]]):
    """Literal array<struct<cid,vec>> for broadcast-free argmin."""
    return F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(x) for x in vec]).alias("cvec"),
            )
            for cid, vec in centroids
        ]
    )


def _assign_matrix(vecs, d):
    """(n, d) float64 matrix with the assign path's NULL/ragged rule:
    the expression path yields cosine 0.0 to every centroid for a NULL
    or wrong-dimension vector (NULL fold -> coalesce 0.0), so the
    smallest cid wins. A zeros row reproduces that exactly (den == 0
    -> cos 0.0 for all centroids) — substitute instead of letting
    vstack raise an opaque executor ValueError."""
    import numpy as np

    return np.vstack(
        [
            np.asarray(x, np.float64)
            if x is not None and len(x) == d
            else np.zeros(d)
            for x in vecs
        ]
    )


def _np_nearest_matrix(V, cents):
    """Nearest-centroid ids for a prebuilt (n, d) float64 matrix: one
    numpy pass per (centroid, dimension) reproducing the expression
    fold bit-for-bit (same IEEE op order as ``similarity.cosine`` —
    see ``similarity._fold_cosine_rows``). Comparison semantics match
    ``array_max`` over struct(cos, neg_cid, cid): max cosine with
    Spark's NaN-greatest double ordering, ties to the smaller cid
    (centroids iterate in ascending cid; strict > keeps the first).
    Shared by the Arrow assign kernel and the driver-local trainer so
    their parity is by construction — numpy elementwise ops are
    batch-composition-independent, so per-batch and whole-sample calls
    yield identical doubles."""
    import numpy as np

    cents = sorted(
        ((int(cid), [float(x) for x in vec]) for cid, vec in cents)
    )  # ascending cid: strict > then keeps the smaller cid on ties
    d = V.shape[1]
    n = V.shape[0]
    nv = np.zeros(n)
    for i in range(d):
        nv = nv + V[:, i] * V[:, i]
    nq = np.sqrt(nv)
    # all K dots accumulate TOGETHER, one (n, K) update per dimension:
    # every element still sees the exact fold sequence
    # (dot += V[:,i]*c_i, dim by dim; nc += c_i*c_i), so the doubles
    # are bit-identical to the per-centroid loop this replaces — but
    # the numpy call count drops from K*d tiny ops (allocation-bound,
    # ~1 s/iteration at 16k rows x K=126) to d matrix ops (~4x).
    cids = np.asarray([cid for cid, _ in cents], dtype=np.int32)
    CW = np.asarray([vec for _, vec in cents], dtype=np.float64)  # (K, d)
    ncs = np.zeros(len(cents))
    for i in range(d):
        ci = CW[:, i]
        ncs = ncs + ci * ci
    den = nq[:, None] * np.sqrt(ncs)[None, :]
    D = np.zeros((n, len(cents)))
    tmp = np.empty_like(D)
    for i in range(d):
        # out= buffers reuse one temp: same multiply/add per element,
        # half the (n, K) allocations per dimension
        np.multiply(V[:, i:i + 1], CW[:, i][None, :], out=tmp)
        np.add(D, tmp, out=D)
    with np.errstate(invalid="ignore", divide="ignore"):
        cos = D / den
    cos = np.where(den == 0.0, 0.0, cos)
    key = np.where(np.isnan(cos), np.inf, cos)  # NaN sorts greatest
    # argmax keeps the FIRST max column; columns are ascending cid, so
    # ties resolve to the smaller cid exactly like the strict-> loop
    return cids[np.argmax(key, axis=1)]


def _np_centroid_cosines(V, cents):
    """(n, K) cosine matrix for a prebuilt (n, d) float64 matrix
    against ``cents`` IN THE GIVEN ORDER — the same IEEE fold per
    (centroid, dimension) as :func:`_np_nearest_matrix` (which streams
    over centroids to stay O(n) memory at SemDeDup's K=4096; this
    materializes the matrix for the probe-ranking path, where K is
    the probe codebook, <= K_MAX)."""
    import math

    import numpy as np

    n, d = V.shape
    nv = np.zeros(n)
    for i in range(d):
        nv = nv + V[:, i] * V[:, i]
    nq = np.sqrt(nv)
    out = np.empty((n, len(cents)))
    for j, (_cid, cvec) in enumerate(cents):
        dot = np.zeros(n)
        nc = 0.0
        for i in range(d):
            ci = cvec[i]
            dot = dot + V[:, i] * ci
            nc = nc + ci * ci
        den = nq * math.sqrt(nc)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = dot / den
        out[:, j] = np.where(den == 0.0, 0.0, cos)
    return out


def _np_probe_matrix(V, cents, nprobe):
    """Per row, the ``nprobe`` nearest centroid ids under the query
    side's ``reverse(array_sort(struct(cos, neg_cid, cid)))``
    semantics: cosine DESC with NaN greatest-first, ties by cid ASC.
    ``V`` rows must already carry the expression's NULL/ragged
    outcome (zeros row -> cosine 0.0 everywhere — see
    :func:`_assign_matrix`; a NULL or dimension-mismatched q_vec
    coalesces to 0.0 against every centroid in the expression form,
    which a zeros row reproduces exactly)."""
    import numpy as np

    C = _np_centroid_cosines(V, cents)
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    out = []
    for r in range(V.shape[0]):
        cos = C[r]
        nan = np.isnan(cos)
        order = np.lexsort((cids, -np.where(nan, 0.0, cos), ~nan))
        out.append([int(cids[j]) for j in order[:nprobe]])
    return out


def _probe_cids_arrow(centroids, nprobe: int):
    """Arrow kernel replacing the query-side centroid-array LITERAL
    ranking (``_centroid_array_col`` + transform/array_sort/slice):
    the K x dim literal is thousands of py4j ``F.lit`` calls and a
    Catalyst tree that dominates plan BUILD time (measured ~6 s of an
    sf0.1 IVF-PQ lane); here the centroid matrix rides in the UDF
    closure and the ranking replays the exact expression semantics
    (:func:`_np_probe_matrix`). Bit-parity is pinned by the lanes'
    DuckDB value-hash oracles, which replay the literal form in SQL."""
    cents = [(int(cid), [float(x) for x in vec]) for cid, vec in centroids]
    d = len(cents[0][1])

    def _kernel(v):
        import pandas as pd

        V = _assign_matrix(v, d)
        return pd.Series(_np_probe_matrix(V, cents, nprobe))

    from pyspark.sql.pandas.functions import pandas_udf

    # Deterministic, and carries no asNondeterministic() marker: Spark
    # plants no dynamic partition pruning subquery over a
    # non-deterministic build side, so a marker here would make every
    # persisted-index probe read every centroid partition. Callers
    # must expand the list with F.explode_outer, not F.explode: an
    # inner explode infers size(probe_cids) > 0 AND isnotnull(...)
    # (InferFiltersFromGenerate), which pushes below the projection
    # and DUPLICATES the kernel (guide §4.4). The outer form yields
    # the same rows: the list is never NULL (_assign_matrix zero-fills
    # bad vectors), and an empty one (nprobe < 1) gives a NULL
    # centroid_id that the inner probe join drops.
    return pandas_udf(_kernel, "array<int>")


def _nearest_centroid_arrow(centroids):
    """Arrow kernel for the small-K assign path — the distributed face
    of :func:`_np_nearest_matrix`. The old literal-transform
    expression did the same math interpreted per element — ~0.2us x K
    x dim per row, the dominant cost of every k-means iteration."""
    cents = [(int(cid), [float(x) for x in vec]) for cid, vec in centroids]
    d = len(cents[0][1])

    def _kernel(v):
        import pandas as pd

        V = _assign_matrix(v, d)
        return pd.Series(_np_nearest_matrix(V, cents), dtype="int32")

    from pyspark.sql.pandas.functions import pandas_udf

    # asNondeterministic: the probe join's isnotnull(centroid_id)
    # otherwise pushes below the assign projection and the optimizer
    # DUPLICATES the kernel — every vector scored against all K
    # centroids TWICE (guide §4.4; caught in the r8 plan dumps of
    # ivf_topk). The assignment is deterministic; the marker only
    # pins a single evaluation.
    return pandas_udf(_kernel, "int").asNondeterministic()


def _assign(emb: DataFrame, centroids, vec_col: str) -> DataFrame:
    """Nearest-centroid id per vector (max cosine, min cid ties).

    K <= ASSIGN_LITERAL_MAX: an Arrow kernel scores all K centroids
    per batch with the exact expression-fold op order (no join, no
    shuffle, no per-element interpretation). Larger K: centroids
    become a BROADCAST table, each vector scores K rows, and the
    argmax is a partial-aggregable max-of-struct groupBy on a
    transient row key — the shape that scales to thousands of
    centroids. Same semantics (max cosine, ties to the smaller cid),
    pinned by a parity pytest.
    """
    if len(centroids) <= ASSIGN_LITERAL_MAX:
        return emb.withColumn(
            "centroid_id", _nearest_centroid_arrow(centroids)(F.col(vec_col))
        )
    spark = emb.sparkSession
    cents = spark.createDataFrame(
        [(cid, [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, cvec array<double>",
    )
    keyed = emb.withColumn("__rk", F.monotonically_increasing_id())
    best = (
        keyed.select("__rk", F.col(vec_col).alias("__v"))
        .crossJoin(F.broadcast(cents))
        .groupBy("__rk")
        .agg(
            F.max(
                F.struct(
                    cosine(F.col("__v"), F.col("cvec")).alias("cos"),
                    (-F.col("cid")).alias("neg_cid"),
                    F.col("cid").alias("cid"),
                )
            )["cid"].alias("centroid_id")
        )
    )
    return keyed.join(best, "__rk").drop("__rk")


# ---------------------------------------------------------------------------
# Driver-local training: the sample is CAP-bounded by construction, so
# the k-means iterations can run on the driver — one collect, zero
# per-iteration Spark jobs — as long as every step replays the Spark
# loop bit-for-bit. Above this (sample x K) budget the Arrow-kernel
# assign's 32-way parallelism beats a single driver core and the
# Spark-loop path is kept (SemDeDup's K_CAP=4096 case, and auto-K over
# corpora past ~30k vectors). Sizing: a cell costs ~dim flops x n_iter
# on ONE core locally; 2M cells x 64 dims x 3 iters ~ 0.4G flops ~
# 1-2 s, about where per-iteration job overhead stops winning
# (measured: 16M cells ran ~10 s local vs ~2 s distributed at 64x).
#: (sample rows x K) budget above which training runs the distributed
#: loop instead of the driver-local replay. The driver side of the
#: local replay is O(cells x dim) numpy flops per iteration plus an
#: O(rows x dim) Python units parse — ~1-2 s at this cap — versus
#: 2 scheduling barriers per iteration for the distributed loop.
#: Raised 2M -> 6M in the r7 optimization round: the 8x replication
#: probe showed a borderline cliff where a 16k-row corpus
#: (est x K = 2.016M cells, PQ 16k x 256 = 4.1M) fell just over the
#: old cap into a 10-job distributed train that dominated the lane
#: wall (knn_ivf_topk 8x ratio 7.2 -> 4.7 after the raise). 6M keeps
#: the 64x/128x octaves (est 64k x 256 = 16.4M cells) and big-K
#: SemDeDup on the distributed loop, whose bit-parity with the local
#: replay is test-pinned.
LOCAL_TRAIN_CELLS_MAX = 6_000_000


def _dec_units(x) -> int | None:
    """``x`` after Spark's double->decimal(38,18) cast, as an integer
    count of 1e-18 units — or None where the cast yields NULL (NULL /
    NaN / Inf input, even under ANSI — verified empirically). Spark
    casts via the SHORTEST decimal repr (``BigDecimal.valueOf`` =
    Double.toString) then setScale(18, HALF_UP); Python's
    ``repr(float)`` is the same shortest round-trip repr, so
    ``Decimal(repr(x))`` is the exact twin (verified empirically:
    0.1 -> 0.100000000000000000, not the binary expansion ...055511;
    2**-30 -> 9.31322575E-10). repr==Double.toString is GUARANTEED
    shortest only on JDK 19+ (JDK-4511638/Ryu); on older JDKs the
    legacy FloatingDecimal can emit a non-shortest repr for rare
    doubles, which would round differently at the 1e-18 unit —
    tests/test_extensions.py::test_dec_units_matches_spark_cast
    therefore sweeps a seeded 550-value sample against the RUNNING
    JVM's cast (not only a Python Decimal reference), so a
    repr-divergent JDK fails loudly at test time instead of silently
    diverging local-vs-distributed. A finite value beyond
    decimal(38,18)'s range raises, as ANSI mode does in the
    distributed loop."""
    import math

    if x is None:
        return None
    xf = float(x)
    if not math.isfinite(xf):
        return None
    # integer-exact parse of the shortest repr (pure int math is ~4x
    # faster than a Decimal quantize and this runs len(sample) x dim
    # times): digits/exponent split, then HALF_UP (away from zero) at
    # the 1e-18 unit. Pinned against the JVM cast AND a Decimal
    # reference in tests/test_extensions.py::test_dec_units*.
    s = repr(xf)
    mant, _, ex = s.lower().partition("e")
    exp = int(ex) if ex else 0
    neg = mant.startswith("-")
    if neg:
        mant = mant[1:]
    ip, _, fp = mant.partition(".")
    digits = int(ip + fp)
    p = exp - len(fp) + 18
    if p >= 0:
        u = digits * 10**p
    else:
        d = 10**-p
        q, r = divmod(digits, d)
        u = q + (1 if 2 * r >= d else 0)
    if neg:
        u = -u
    # decimal(38,18) holds |values| < 1e20 -> < 1e38 units
    if abs(u) >= 10**38:
        raise ArithmeticError(
            f"{xf!r} cannot be represented as Decimal(38, 18) — the "
            "distributed trainer raises NUMERIC_VALUE_OUT_OF_RANGE "
            "here under ANSI mode; scale the embeddings down"
        )
    return u


def _units_canon(u: int | None) -> str:
    """The JVM's ``CAST(decimal(38,18) AS STRING)`` plain form from an
    integer unit count: sign + integer part + '.' + 18 fraction
    digits (Spark stringifies decimals via toPlainString; BigDecimal
    has no negative zero, so u == 0 drops the sign). NULL -> the
    sentinel the SQL side substitutes."""
    if u is None:
        return "0xN"
    sign = "-" if u < 0 else ""
    ip, fp = divmod(abs(u), 10**18)
    return f"{sign}{ip}.{fp:018d}"


#: per-row JVM decimal checksum column added to the training collect
_DEC_HASH_COL = "__jvm_dec_h"


def _with_dec_hash(df, id_col: str, vec_col: str = "v"):
    """Append the JVM's view of the row as one 60-bit hash:
    md5(id | ','-joined CAST(CAST(x AS decimal(38,18)) AS STRING))
    truncated to 15 hex digits. It rides the training collect itself —
    no second scan, no job — and lets the driver certify that its fast
    Python-repr units are bit-exact against the JVM decimal cast for
    EVERY element it collected (:func:`_verify_units_rows`). An
    out-of-range element makes the ANSI cast raise inside the collect
    job, the same failure the distributed trainer's F.sum(cast(...))
    would produce."""
    joined_sql = F.coalesce(
        F.array_join(
            F.transform(
                F.col(vec_col),
                lambda x: x.cast("decimal(38,18)").cast("string"),
            ),
            ",",
            "0xN",
        ),
        F.lit("0xV"),
    )
    return df.withColumn(
        _DEC_HASH_COL,
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit("|"),
                        joined_sql,
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )


def _verify_units_rows(rows, id_col: str, vec_col: str = "v"):
    """Compute the 1e-18 units of every collected element ONCE via the
    fast repr path and certify them against the JVM hashes collected
    by :func:`_with_dec_hash`. Returns the unit rows (aligned with
    ``rows``; None for a NULL vector, element None for NULL/non-
    finite) when every row matches — they feed ``_local_kmeans`` /
    ``_local_pq_codebooks`` directly, so the repr parse happens once.
    Returns None on any mismatch (pre-Ryu Double.toString divergence:
    the caller re-collects the JVM decimals)."""
    import hashlib

    units_rows = []
    for r in rows:
        v = r[vec_col]
        if v is None:
            units = None
            joined = "0xV"
        else:
            units = [_dec_units(x) for x in v]
            joined = ",".join(_units_canon(u) for u in units)
        h = hashlib.md5(f"{r[id_col]}|{joined}".encode()).hexdigest()
        if int(h[:15], 16) != r[_DEC_HASH_COL]:
            return None
        units_rows.append(units)
    return units_rows


def _arrow_vec_lists(col):
    """ListArray column -> per-row Python lists of floats (None-safe).

    Fast path (no NULL rows/elements): flatten to one float64 buffer
    and ``tolist()`` — exact float64 -> Python float, ~20x quicker
    than ``to_pylist``. Any null falls back to ``to_pylist`` so NULL
    vectors/elements keep their exact None shape."""
    import numpy as np

    a = col.combine_chunks()
    if a.null_count == 0:
        values = a.flatten()
        if values.null_count == 0:
            flat = values.to_numpy(zero_copy_only=False)
            # flatten() rebases its output to offsets[0], so a sliced
            # ListArray (offsets[0] != 0) needs the offsets rebased too
            # or every row's slice is shifted
            offs = a.offsets.to_numpy()
            offs = offs - offs[0]
            return [
                flat[offs[i]:offs[i + 1]].tolist()
                for i in range(len(offs) - 1)
            ]
    return a.to_pylist()


def _arrow_unit_lists(col):
    """ListArray-of-decimal128(38,18) column -> per-row lists of
    integer 1e-18 units (None-safe). The decimal's UNSCALED int128 IS
    the unit count, so the fast path decodes the Arrow data buffer
    directly: two little-endian uint64 limbs per value, collapsed to
    int64 where the high limb is the low limb's sign extension (every
    |element| < ~4.61e0 — all real embedding corpora). Any NULL row or
    element, or a unit beyond int64, falls back to the exact
    ``Decimal.scaleb`` path."""
    import numpy as np

    a = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    if a.null_count == 0:
        flat = a.flatten()
        if flat.null_count == 0 and len(flat):
            buf = flat.buffers()[1]
            raw = np.frombuffer(
                buf, dtype=np.uint64,
                offset=flat.offset * 16, count=2 * len(flat),
            )
            lo = raw[0::2]
            hi = raw[1::2].view(np.int64)
            if bool((hi == (lo.view(np.int64) >> 63)).all()):
                units = lo.view(np.int64)
                offs = a.offsets.to_numpy()
                offs = offs - offs[0]
                return [
                    units[offs[i]:offs[i + 1]].tolist()
                    for i in range(len(offs) - 1)
                ]
    from decimal import localcontext

    out = []
    for row in a.to_pylist():
        if row is None:
            out.append(None)
            continue
        r = []
        for d in row:
            if d is None:
                r.append(None)
            else:
                with localcontext() as ctx:
                    ctx.prec = 60
                    r.append(int(d.scaleb(18)))
        out.append(r)
    return out


#: decimal(38,18) array column of a double vector — the JVM's own
#: cast per element (authoritative units on ANY JDK, like the canon
#: strings, but shipped as raw decimal128 instead of strings: no
#: toPlainString/array_join on the JVM side, no string parse on the
#: driver side). NULL element stays NULL (the cast of NULL/NaN/Inf
#: yields NULL even under ANSI); NULL vector stays a NULL row.
_DEC_ARR_COL = "__jvm_dec_a"


def _with_dec_arrays(df, vec_col: str = "v"):
    return df.withColumn(
        _DEC_ARR_COL,
        F.transform(F.col(vec_col), lambda x: x.cast("decimal(38,18)")),
    )


def _collect_train_sample(e, id_col: str, cap: int, vec_cols=("v",)):
    """One Arrow-backed collect of ``limit(cap+1)`` rows carrying, for
    each vector column, the doubles AND the JVM's decimal(38,18) casts
    as raw decimal128 arrays.

    Measured shape (r8): the decimal-STRING form this replaces spent
    ~0.2 s/collect building toPlainString+array_join on the JVM and
    parsing strings on the driver, and its scan_parallel redistribution
    bought ~0.22 s of pure AQE stage latency to spread that work —
    with the cast-only decimal128 transport the single-task plan is
    strictly faster (0.41 s -> 0.18 s per collect at sf0.1) and two
    stage-jobs shorter. The limit still early-stops an over-cap scan,
    and at warehouse scale the scan arrives pre-split, so no
    redistribution is lost. Row ORDER of the collect is free to
    differ: k-means init sorts by id, re-centering is an order-free
    exact integer sum, and every consumer re-sorts or feeds
    order-insensitive math.

    Returns ``None`` when more than ``cap`` rows exist (the caller
    falls back to the counted/sampled path), else a dict with ``ids``
    and, per vector column, ``vecs_<c>`` (None-safe float lists) and
    ``units_<c>`` (per-row integer-unit lists aligned with ids)."""
    df = e.limit(cap + 1)
    for i, c in enumerate(vec_cols):
        df = _with_dec_arrays(df, c).withColumnRenamed(
            _DEC_ARR_COL, f"{_DEC_ARR_COL}{i}"
        )
    tbl = df.toArrow()
    if tbl.num_rows > cap:
        return None
    out = {"ids": tbl.column(id_col).to_pylist(), "n": tbl.num_rows}
    for i, c in enumerate(vec_cols):
        out[f"vecs_{c}"] = _arrow_vec_lists(tbl.column(c))
        out[f"units_{c}"] = _arrow_unit_lists(
            tbl.column(f"{_DEC_ARR_COL}{i}")
        )
    return out


def _units_matrix(vecs, dim, dec_rows=None, unit_rows=None):
    """Per-row, per-position 1e-18 units for the SUM leg, replaying
    ``F.sum(v[i].cast(decimal(38,18)))``'s input semantics under ANSI:
    ``v[i]`` uses the actual element whenever ``i < len(v)`` (extra
    elements beyond ``dim`` are ignored), yields NULL for a NULL
    vector or a non-finite element, and RAISES for a vector shorter
    than ``dim`` (ANSI INVALID_ARRAY_INDEX — the distributed loop's
    re-center job dies the same way; the assign leg's
    zeros-substitution never reaches the aggregation).

    ``dec_rows`` (when given) carries the JVM's OWN
    ``cast(x as decimal(38,18))`` of each element, collected alongside
    the double sample — the authoritative unit source on ANY JDK: it
    sidesteps the repr(float)==Double.toString assumption that the
    ``_dec_units`` fallback needs (legacy pre-Ryu FloatingDecimal on
    JDK<19 emits non-shortest reprs for rare doubles, e.g.
    8.078571431197864e18, which round differently at the 1e-18 unit —
    observed live on this JDK 17). Without ``dec_rows`` the fallback
    is exact only where repr(x) matches the JVM's repr.

    ``unit_rows`` (when given) carries per-row unit lists ALREADY
    verified against the JVM hashes (:func:`_verify_units_rows`) —
    aligned with ``vecs``, row None for a NULL vector, element None
    for NULL/non-finite; positions beyond ``dim`` are ignored like
    the extra vector elements.

    Returns ``(U, NN, big)``: with ``big=False``, U is an int64
    (n, dim) matrix (NULL as 0) and NN the non-null mask, safe for the
    two-limb exact summation; with ``big=True`` (any |units| >= 2**62
    — element magnitudes beyond ~4.61), U is a row-list of
    python-int-or-None for the exact-but-slower path."""
    from decimal import localcontext

    import numpy as np

    if dec_rows is None and unit_rows is not None:
        # fast path for the overwhelmingly common shape (pre-parsed
        # JVM units, no NULL vectors/elements, nothing near the
        # two-limb bound): one C-speed int64 conversion instead of a
        # rows x dim Python fill loop (~1.3 s at 16k x 64). Any
        # irregularity — None rows/elements, ragged width, > int64 —
        # raises out of np.asarray and falls back to the exact loop;
        # the short-vector contract is enforced first, as the loop
        # would.
        try:
            for j, v in enumerate(vecs):
                if v is not None and len(v) < dim:
                    raise IndexError(
                        f"[INVALID_ARRAY_INDEX] index {len(v)} out of "
                        f"bounds for a {len(v)}-element vector — the "
                        "distributed trainer's ANSI re-center raises "
                        "the same way; filter ragged embeddings "
                        "before training"
                    )
            U = np.asarray(
                [r[:dim] for r in unit_rows], dtype=np.int64
            )
            # two-sided compare, not abs(): np.abs(int64 min) wraps to
            # itself under suppressed overflow and would pass the bound
            in_bounds = bool(((U > -(2**62)) & (U < 2**62)).all())
            if U.shape == (len(vecs), dim) and in_bounds:
                return U, np.ones(U.shape, dtype=bool), False
        except IndexError:
            raise
        except Exception:
            pass  # exact slow path below

    rows = []
    big = False
    for j, v in enumerate(vecs):
        dr = dec_rows[j] if dec_rows is not None else None
        r = []
        for i in range(dim):
            if v is None:
                u = None
            elif i >= len(v):
                raise IndexError(
                    f"[INVALID_ARRAY_INDEX] index {i} out of bounds for a "
                    f"{len(v)}-element vector — the distributed trainer's "
                    "ANSI re-center raises the same way; filter ragged "
                    "embeddings before training"
                )
            elif dr is not None:
                d = dr[i]
                if d is None:
                    u = None
                else:
                    # scaleb is exact under a wide context (the cast
                    # result has <=17 significant digits)
                    with localcontext() as ctx:
                        ctx.prec = 60
                        u = int(d.scaleb(18))
            elif unit_rows is not None:
                u = unit_rows[j][i]
            else:
                u = _dec_units(v[i])
            if u is not None and abs(u) >= 2**62:
                big = True
            r.append(u)
        rows.append(r)
    if big:
        return rows, None, True
    U = np.zeros((len(rows), dim), dtype=np.int64)
    NN = np.zeros((len(rows), dim), dtype=bool)
    for j, r in enumerate(rows):
        for i, u in enumerate(r):
            if u is not None:
                U[j, i] = u
                NN[j, i] = True
    return U, NN, False


def _exact_group_means(units, nn_mask, big, gids, counts, dim):
    """dict group_id -> mean vector, replaying the Spark loop's
    ``cast(sum(decimal), double) / count`` exactly: the decimal sum is
    an exact integer (two-limb int64 accumulation, or python ints on
    the ``big`` path), decimal->double is the correctly-rounded
    ``total / 10**18`` (python int/int true division), and ONE IEEE
    division by the group count follows — the same op order as
    ``train_kmeans``'s driver-side ``s_i / n``. Groups with count 0
    are absent (the caller keeps the previous centroid); an all-NULL
    (group, position) raises TypeError exactly like the Spark path's
    ``None / n``."""
    import numpy as np

    kg = len(counts)
    if big:
        sums = [[0] * dim for _ in range(kg)]
        nn = [[0] * dim for _ in range(kg)]
        for j, r in enumerate(units):
            g = int(gids[j])
            sr, nr = sums[g], nn[g]
            for i, u in enumerate(r):
                if u is not None:
                    sr[i] += u
                    nr[i] += 1
        totals = sums
        nonnull = nn
    else:
        hi = units >> np.int64(32)
        lo = units & np.int64(0xFFFFFFFF)
        sh = np.zeros((kg, dim), np.int64)
        sl = np.zeros((kg, dim), np.int64)
        nncnt = np.zeros((kg, dim), np.int64)
        np.add.at(sh, gids, hi)
        np.add.at(sl, gids, lo)
        np.add.at(nncnt, gids, nn_mask.astype(np.int64))
        totals = [
            [(int(sh[g, i]) << 32) + int(sl[g, i]) for i in range(dim)]
            for g in range(kg)
        ]
        nonnull = nncnt
    out = {}
    for g in range(kg):
        cnt = int(counts[g])
        if cnt == 0:
            continue
        vals = []
        for i in range(dim):
            if nonnull[g][i]:
                t = totals[g][i]
                # mirror _dec_units' per-value guard at the GROUP SUM:
                # the distributed ANSI loop raises
                # NUMERIC_VALUE_OUT_OF_RANGE when F.sum overflows
                # decimal(38,18); the local replay must fail the same
                # way, not silently return a mean (ADVICE r6).
                if abs(t) >= 10**38:
                    raise ArithmeticError(
                        f"group {g} position {i} sum {t}e-18 overflows "
                        "Decimal(38, 18) — the distributed trainer "
                        "raises NUMERIC_VALUE_OUT_OF_RANGE here under "
                        "ANSI mode; scale the embeddings down"
                    )
                s_val = t / 10**18
            else:
                s_val = None
            vals.append(s_val / cnt)
        out[g] = vals
    return out


def _local_kmeans(rows, k: int, n_iter: int, unit_rows=None):
    """Driver-local replay of ``train_kmeans``'s Spark loop on the
    collected (id, vec[, jvm_decimals]) sample: init = the k smallest
    ids, assign = the shared :func:`_np_nearest_matrix` kernel math,
    re-center = :func:`_exact_group_means` fed the JVM's own
    decimal(38,18) casts when the 3rd tuple slot carries them (exact
    on any JDK — see :func:`_units_matrix`). Bit-for-bit identical
    output (parity-pinned in tests/test_extensions.py) with one
    collect instead of 2 + 2*n_iter corpus-scanning jobs."""
    import numpy as np

    ordered = sorted(rows, key=lambda r: r[0])
    centroids = [(i, list(r[1])) for i, r in enumerate(ordered[:k])]
    dim = len(centroids[0][1])
    vecs = [r[1] for r in rows]
    decs = (
        [r[2] for r in rows]
        if rows and len(rows[0]) > 2
        else None
    )
    V = _assign_matrix(vecs, dim)
    U, NN, big = _units_matrix(
        vecs, dim, dec_rows=decs, unit_rows=unit_rows
    )
    for _ in range(n_iter):
        cids = _np_nearest_matrix(V, centroids)
        counts = np.bincount(cids, minlength=len(centroids))
        new = _exact_group_means(U, NN, big, cids, counts, dim)
        # empty clusters keep their previous centroid (deterministic)
        centroids = [(cid, new.get(cid, vec)) for cid, vec in centroids]
    return centroids


def auto_k(n: int, cap: int = K_MAX) -> int:
    """K sized to the corpus: the sqrt(N) rule of thumb, clamped to
    [4, cap]. The default cap keeps the IVF probe-side centroid
    literal bounded; callers that only ASSIGN (SemDeDup) can raise it
    — the Arrow-kernel assign has no literal-size constraint, it just
    ships the centroid matrix in the UDF closure."""
    return max(4, min(cap, int(round(n**0.5))))


def _probe_cap_auto_k(k_cap: int) -> int:
    """Largest sample size n (<= TRAIN_SAMPLE_CAP) whose auto-K cells
    budget n*auto_k(n, k_cap) fits LOCAL_TRAIN_CELLS_MAX — binary
    search over the monotone budget."""
    lo, hi = 1, TRAIN_SAMPLE_CAP
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if mid * auto_k(mid, k_cap) <= LOCAL_TRAIN_CELLS_MAX:
            lo = mid
        else:
            hi = mid - 1
    return lo


def train_kmeans(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    k_cap: int = K_MAX,
    n_iter: int = N_ITER,
    sample_mod: int | None = None,
    driver_local: bool | None = None,
    _sample: dict | None = None,
    _out: dict | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic k-means (cosine/spherical): init = the k smallest
    ids; each round assigns and re-centers via element-wise mean
    (aggregate over array positions).

    ``k=None`` sizes K to the corpus (sqrt(N), clamped to ``k_cap``);
    ``sample_mod=None`` picks the smallest deterministic sample
    (``id % mod == 0``) that fits TRAIN_SAMPLE_CAP, so training cost
    is bounded regardless of corpus size. Both remain overridable.

    ``driver_local=None`` auto-picks the execution shape: since the
    sample is CAP-bounded, small (sample x K) budgets collect it ONCE
    and iterate on the driver (:func:`_local_kmeans` — bit-identical
    by shared kernel math + exact decimal re-centering, zero
    per-iteration jobs); large budgets (SemDeDup's K_CAP=4096) keep
    the distributed loop, whose sample is localCheckpoint'ed so the
    iterations never re-scan the corpus. Either way the FULL corpus
    is read exactly once per training run at any scale."""
    e = emb.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("v")
    )
    # The local replay trains on the JVM's OWN decimal(38,18) casts,
    # shipped alongside the doubles in the ONE training collect as
    # raw decimal128 arrays (_collect_train_sample): exact on any JDK
    # — no repr(float)==Double.toString assumption, no verify pass,
    # no fallback re-collect — bit parity with the distributed
    # F.sum(cast(decimal)) either way.
    sample = None
    n = None
    if _sample is not None:
        # caller pre-collected the training set (one shared scan for
        # composed trainers, e.g. ivf_pq_topk's coarse + PQ stages)
        sample, n, sample_mod = _sample, _sample["n"], 1
    if sample_mod is None and driver_local is not False:
        # one pass for cap-sized corpora: if everything fits the
        # training cap this limited collect IS the training set and
        # the separate count job is unnecessary (limit stops the scan
        # early on larger corpora, so probing stays cheap at any
        # size). The probe is also bounded by the cells budget at the
        # K upper bound, so a large-K caller (SemDeDup's k_cap=4096)
        # never collects 65k rows only to pick the distributed loop
        if k is not None:
            probe_cap = min(TRAIN_SAMPLE_CAP, LOCAL_TRAIN_CELLS_MAX // max(1, k))
        else:
            # K is auto-sized (~sqrt(n)), so the cells budget at n rows
            # is n*auto_k(n, k_cap), NOT n*k_cap: dividing by the cap
            # (4096 for SemDeDup) starved the probe to a few hundred
            # rows and pushed cap-sized corpora through the slow
            # probe-fail -> count -> re-collect path. Largest n whose
            # SELF-CONSISTENT budget fits keeps the one-collect fast
            # path for every corpus the local trainer would accept.
            probe_cap = _probe_cap_auto_k(k_cap)
        sample = _collect_train_sample(e, id_col, probe_cap)
        if sample is not None:
            n, sample_mod = sample["n"], 1
    if n is None:
        n = e.count()
    if k is None:
        k = auto_k(n, k_cap)
    if sample_mod is None:
        sample_mod = max(1, -(-n // TRAIN_SAMPLE_CAP))  # ceil division
    if _out is not None and _sample is None:
        # n is the exact corpus row count here (the probe collected
        # everything, or e.count() ran) — callers that need it (e.g.
        # SemDeDup's skew routing) read it back instead of running
        # their own counting job
        _out["n"] = n
    if driver_local is None:
        est = n if sample_mod <= 1 else n // sample_mod + 1
        driver_local = est * k <= LOCAL_TRAIN_CELLS_MAX
    if sample_mod > 1:
        e = e.filter(F.col(id_col) % sample_mod == 0)
        sample = None
    if driver_local:
        if sample is None:
            sample = _collect_train_sample(e, id_col, n)
        if _out is not None and sample_mod == 1:
            # the un-sampled collect IS the corpus: callers can serve
            # query-side prep (probe ranking, q_vec fetch) straight
            # from it instead of re-scanning (see ivf_topk)
            _out["sample"] = sample
        return _local_kmeans(
            list(zip(sample["ids"], sample["vecs_v"])),
            k=k, n_iter=n_iter, unit_rows=sample["units_v"],
        )
    # distributed loop: pin the (bounded) sample so each iteration
    # reads it back instead of re-scanning the full corpus
    e = e.localCheckpoint(eager=True)
    init = (
        e.orderBy(F.col(id_col).asc()).limit(k).collect()
    )
    centroids = [(i, list(r["v"])) for i, r in enumerate(init)]
    dim = len(centroids[0][1])
    for _ in range(n_iter):
        assigned = _assign(e, centroids, "v")
        # decimal-exact per-position sums (order-free, like graph.
        # pagerank) + one driver-side IEEE division per component:
        # identical doubles on any partitioning AND in the DuckDB
        # oracle twin, where F.avg's float summation order is not.
        means = (
            assigned.groupBy("centroid_id")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.col("v")[i].cast("decimal(38,18)"))
                    .cast("double")
                    .alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new = {
            r["centroid_id"]: [r[f"s{i}"] / r["__n"] for i in range(dim)]
            for r in means
        }
        # empty clusters keep their previous centroid (deterministic)
        centroids = [
            (cid, new.get(cid, vec)) for cid, vec in centroids
        ]
    return centroids


def _sql_dlit(x) -> str:
    """Exact SQL double literal: CAST('<repr>' AS DOUBLE) — string->
    double casting is correctly rounded, so the shortest repr
    round-trips bit-for-bit; NaN/Infinity use their SQL spellings."""
    import math

    if x is None:
        return "CAST(NULL AS DOUBLE)"
    xf = float(x)
    if math.isnan(xf):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(xf):
        sign = "-" if xf < 0 else ""
        return f"CAST('{sign}Infinity' AS DOUBLE)"
    return f"CAST('{xf!r}' AS DOUBLE)"


def _sql_darray(v) -> str:
    if v is None:
        return "CAST(NULL AS ARRAY<DOUBLE>)"
    if not v:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return f"array({','.join(_sql_dlit(x) for x in v)})"


def _sql_iarray(v) -> str:
    if not v:
        return "CAST(array() AS ARRAY<INT>)"
    return f"array({','.join(str(int(x)) for x in v)})"


def _sql_idlit(x, dt) -> str | None:
    """Literal for an id value of Spark type ``dt``; None when the
    type isn't one we can render exactly (caller falls back to the
    scan path)."""
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return f"CAST({int(x)} AS {s.upper()})"
    if s == "string":
        t = str(x)
        # Spark's default parser (escapedStringLiterals=false) processes
        # backslash escapes inside string literals, so a raw backslash
        # must be doubled or the id is silently mangled in the VALUES
        # frame. Control characters are punted to the scan path rather
        # than round-tripped through the parser.
        if any(ord(c) < 0x20 for c in t):
            return None
        esc = t.replace("\\", "\\\\").replace("'", "''")
        return f"'{esc}'"
    return None


def _sql_values_frame(spark, rows_sql: list[str], names: str):
    """VALUES literal frame — a true LocalRelation. The RDD-backed
    ``spark.createDataFrame(list)`` alternative re-pickles and
    re-scans its Python rows inside EVERY job that executes the frame
    (measured ~0.5 s per noop of a 5-row frame); a parsed VALUES list
    folds to LocalRelation and costs ~nothing per use. One SQL string
    also avoids the per-literal py4j round trips that made
    Column-literal trees dominate lane build time."""
    return spark.sql(
        f"SELECT * FROM VALUES {','.join(rows_sql)} AS t({names})"
    )


def _query_probe_frame(
    emb: DataFrame,
    query_ids: list[int],
    centroids,
    nprobe: int,
    *,
    id_col: str,
    vec_col: str,
    sample: dict | None = None,
) -> DataFrame:
    """(query_id, q_vec, centroid_id-exploded) probe frame.

    When the trainer's un-sampled collect is available (``sample`` —
    it holds the WHOLE corpus, so selecting ``query_ids`` from it is
    exactly the scan filter), the probe ranking runs DRIVER-side with
    the same kernel math (:func:`_assign_matrix` +
    :func:`_np_probe_matrix` — the body of ``_probe_cids_arrow``) and
    the frame is a local relation: no second corpus scan, no
    Python-worker stage inside the broadcast build. Queries are a
    handful of vectors at any corpus size, so client-side prep is the
    production shape too. Falls back to the scan + Arrow-kernel
    pipeline when no full sample exists."""
    if sample is not None:
        qset = set(query_ids)
        sel = [
            (i, v)
            for i, v in zip(sample["ids"], sample["vecs_v"])
            if i in qset
        ]
        idt = emb.schema[id_col].dataType
        if sel and all(
            _sql_idlit(i, idt) is not None for i, _ in sel
        ):
            d = len(centroids[0][1])
            V = _assign_matrix([v for _, v in sel], d)
            probes = _np_probe_matrix(V, centroids, nprobe)
            rows_sql = [
                f"({_sql_idlit(i, idt)}, {_sql_darray(v)},"
                f" {_sql_iarray(probes[j])})"
                for j, (i, v) in enumerate(sel)
            ]
            return _sql_values_frame(
                emb.sparkSession, rows_sql, "query_id, q_vec, probe_cids"
            ).select(
                "query_id", "q_vec",
                F.explode("probe_cids").alias("centroid_id"),
            )
    return (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .withColumn(
            "probe_cids",
            _probe_cids_arrow(centroids, nprobe)(F.col("q_vec")),
        )
        .select(
            "query_id",
            "q_vec",
            F.explode_outer("probe_cids").alias("centroid_id"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Approximate top-k: probe the query's nprobe nearest centroids,
    rank only vectors assigned there. Recall < 1 by construction
    (neighbors assigned to unprobed partitions are missed); raise
    nprobe to trade cost for recall. ``nprobe=None`` probes K/4
    partitions (a fixed fraction keeps the recall characteristics
    stable as auto-K grows with the corpus)."""
    info: dict = {}
    centroids = centroids or train_kmeans(
        emb, id_col=id_col, vec_col=vec_col, _out=info
    )
    if nprobe is None:
        nprobe = max(1, len(centroids) // 4)
    corpus = _assign(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_vec"),
        ),
        centroids,
        "n_vec",
    )
    queries = _query_probe_frame(
        emb, query_ids, centroids, nprobe,
        id_col=id_col, vec_col=vec_col, sample=info.get("sample"),
    )
    cand = corpus.join(F.broadcast(queries), "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.withColumn(
        "cos", cosine_arrow(F.col("q_vec"), F.col("n_vec"))
    ).select("query_id", "neighbor_id", "cos")
    # the rank<=k filter infers a PARTIAL WindowGroupLimit map-side
    # (up to the optimizer threshold; the guard covers larger k), so
    # probed candidates never funnel through one reducer per query
    from ..operators.topk import ensure_partial_limit

    scored = ensure_partial_limit(
        scored, order_col="cos", descending=True, k=k
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Index persistence: build once, probe many times

def save_ivf_index(
    emb: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index as TABLES: the centroid codebook and
    the corpus partitioned-by-centroid — so the (expensive) k-means
    train + assign runs once and every later query can be a
    partition-pruned read. ``partitionBy(centroid_id)`` is the point:
    :func:`ivf_index_topk`'s probe join on ``centroid_id`` lets Spark
    plant a DYNAMIC partition pruning subquery in the corpus scan, so
    a probe of nprobe partitions lists only those directories,
    touching ~nprobe/K of the corpus FILES (file-level pruning, not a
    post-scan filter). Spark plants it only when the query frame
    carries a selective predicate (e.g. ``vec_id IN (...)``); a
    query frame of literal rows with no filter still reads every
    partition."""
    import os

    centroids = save_ivf_centroids(
        emb, index_dir, id_col=id_col, vec_col=vec_col
    )
    assigned = _assign(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_vec"),
        ),
        centroids,
        "n_vec",
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(index_dir, "corpus")
    )


def save_ivf_centroids(
    emb: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Train + persist the codebook ONLY — the offline-train step of
    a streaming ingestion deployment, where the corpus arrives later
    through :func:`append_ivf_index_batch`. Returns the trained
    centroids."""
    import os

    centroids = train_kmeans(emb, id_col=id_col, vec_col=vec_col)
    emb.sparkSession.createDataFrame(
        [(cid, list(map(float, vec))) for cid, vec in centroids],
        "centroid_id int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )
    return centroids


def append_ivf_index(
    emb: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add vectors to a SAVED index without retraining — the
    build-once / append-many ingestion shape (FAISS add() after
    train()): new vectors assign against the FROZEN codebook (one
    scan of the delta, broadcast centroids) and append into the
    partitioned corpus table. ``partitionBy + append`` writes only
    the touched centroid directories — existing partitions' files
    are untouched, so a probe keeps file-level pruning and the
    delta cost is O(|delta|), independent of the index size.
    Centroids drift as the distribution shifts; recall of appended
    mass is bounded by the same nprobe tradeoff and a periodic
    re-train (save_ivf_index) is the compaction story — both
    pytest-pinned."""
    import os

    centroids = load_ivf_centroids(emb.sparkSession, index_dir)
    assigned = _assign(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_vec"),
        ),
        centroids,
        "n_vec",
    )
    assigned.write.mode("append").partitionBy("centroid_id").parquet(
        os.path.join(index_dir, "corpus")
    )


def append_ivf_index_batch(
    emb: DataFrame,
    index_dir: str,
    batch_id: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Replay-safe streaming variant of :func:`append_ivf_index`:
    the delta lands under ``corpus/batch=<id>/centroid_id=*`` with
    OVERWRITE, so a retried micro-batch (foreachBatch is
    at-least-once) rewrites its own directory instead of
    double-appending — the same per-batch commit discipline as the
    dedup bucket stores. ``ivf_index_topk`` reads ``corpus``
    recursively; the extra ``batch`` partition column rides along and
    centroid_id pruning still skips unprobed directories inside
    every batch. Layout constraint: a streaming index keeps ALL its
    corpus under batch dirs (train via :func:`save_ivf_centroids`,
    never mix with :func:`save_ivf_index`'s flat corpus — partition
    discovery rejects inconsistent directory depths)."""
    import os

    centroids = load_ivf_centroids(emb.sparkSession, index_dir)
    assigned = _assign(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_vec"),
        ),
        centroids,
        "n_vec",
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(index_dir, "corpus", f"batch={batch_id}")
    )


def compact_ivf_index(spark, index_dir: str) -> None:
    """OPTIMIZE for a STREAMING-built index: every micro-batch of
    :func:`append_ivf_index_batch` leaves its own
    ``corpus/batch=N/centroid_id=*`` directory, so after many batches
    each probe touches #batches small files per centroid. Compaction
    rewrites the corpus into :func:`save_ivf_index`'s flat
    ``centroid_id=*`` layout — one pass, one file per centroid
    (repartition by centroid_id => one task per centroid group), and
    an interruption-safe swap (compact into a NEW directory, rename
    old out of the way, rename new in, then delete the old): a crash
    at any point leaves a complete corpus under either the live or
    the retired name, never a half-written mix. Single-writer
    maintenance window, like ``operators/maintenance.compaction`` —
    run between query batches. Query results are IDENTICAL before
    and after (pytest-pinned); centroid_id pruning now skips whole
    flat directories instead of per-batch subtrees."""
    import os
    import shutil

    corpus = os.path.join(index_dir, "corpus")
    compacting = os.path.join(index_dir, "corpus_compacting")
    retired = os.path.join(index_dir, "corpus_retired")
    (
        spark.read.parquet(corpus)
        .select("neighbor_id", "n_vec", "centroid_id")
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(compacting)
    )
    os.rename(corpus, retired)
    os.rename(compacting, corpus)
    shutil.rmtree(retired)


def load_ivf_centroids(spark, index_dir: str) -> list[tuple[int, list[float]]]:
    import os

    rows = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("centroid_id")
        .collect()
    )
    return [(int(r["centroid_id"]), list(r["cvec"])) for r in rows]


def ivf_index_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    *,
    nprobe: int | None = None,
) -> DataFrame:
    """Top-k from a SAVED index: rank centroids for each query
    (codebook rides in the kernel closure — no corpus access), then
    join the probe list to the corpus table on ``centroid_id`` and
    score the candidates: the persistent-index form of ivf_topk's
    probe join.

    The pruning is DYNAMIC: Spark plants a partition pruning subquery
    on ``centroid_id`` in the corpus scan, so only the probed
    partition directories are read, when ``queries`` carries a
    selective predicate (the catalog lanes' ``vec_id IN (...)``). A
    ``queries`` frame built from literal rows with no filter (e.g.
    ``spark.createDataFrame``) gets no pruning subquery and reads
    every partition; results are the same either way."""
    import os

    centroids = load_ivf_centroids(spark, index_dir)
    if nprobe is None:
        nprobe = max(1, len(centroids) // 4)
    probed = (
        queries.withColumn(
            "probe_cids",
            _probe_cids_arrow(centroids, nprobe)(F.col("q_vec")),
        )
        .select(
            "query_id",
            "q_vec",
            F.explode_outer("probe_cids").alias("centroid_id"),
        )
    )
    corpus = spark.read.parquet(os.path.join(index_dir, "corpus"))
    cand = corpus.join(F.broadcast(probed), "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.withColumn(
        "cos", cosine_arrow(F.col("q_vec"), F.col("n_vec"))
    ).select("query_id", "neighbor_id", "cos")
    from ..operators.topk import ensure_partial_limit

    scored = ensure_partial_limit(
        scored, order_col="cos", descending=True, k=k
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )
