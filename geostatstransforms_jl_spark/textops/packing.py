"""Training-set assembly for LLM pipelines: deterministic hash-based
dataset splits and concat-and-chunk sequence packing.

Both are pure Catalyst.  ``hash_split`` is a narrow projection (zero
shuffles, reproducible on any cluster size); ``chunk_pack`` is the
GPT-style "concatenate the corpus in a fixed order, slice into
context-length windows" assignment, computed as a distributed prefix sum
with ONE data exchange — not the single-partition global window a naive
``Window.orderBy`` would plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    out: str = "split",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Assign every row to a named split (train/val/test/…) by hashing its id.

    ``bucket = pmod(xxhash64(id, seed), buckets)`` and the ``weights``
    fractions carve ``[0, buckets)`` into contiguous ranges, so membership is
    a pure function of (id, seed): re-runs, re-partitioning, cluster size,
    and row order cannot move a document between splits — the property that
    makes held-out sets trustworthy across pipeline versions (a
    ``sample()``-based split has none of these guarantees).  Zero shuffles;
    whole-stage codegen end to end.

    ``weights`` need not sum to 1 — they are normalized.  Range boundaries
    are rounded once at plan time; with the default 10^6 buckets the realized
    fraction of each split is within 10^-6 of the requested one.
    """
    if not weights:
        raise ValueError("hash_split: weights must name at least one split")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"hash_split: weights must be non-negative and sum > 0, got {weights}")
    if out in df.columns:
        raise ValueError(f"hash_split: output column {out!r} already exists in the input")
    total = float(sum(weights.values()))
    names = list(weights)  # caller's order defines the bucket ranges
    bounds, acc = [], 0.0
    for n in names:
        acc += weights[n] / total
        bounds.append(min(buckets, int(round(acc * buckets))))
    bounds[-1] = buckets  # rounding must not orphan the top bucket

    # seed cast to long → Spark's 8-byte hash path, matching the clean-room
    # XXH64 oracle replay (scripts/sparkhash.py ("long", seed))
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed).cast("long")), F.lit(buckets))
    # fold the names in reverse so the CASE tests ranges low→high
    expr = F.lit(names[-1])
    for n, b in reversed(list(zip(names[:-1], bounds[:-1]))):
        expr = F.when(bucket < F.lit(b), F.lit(n)).otherwise(expr)
    return df.withColumn(out, expr)


def _floor_div(a, b: int):
    """``floor(a / b)`` for a long column ``a`` and ``b > 0`` in exact long
    arithmetic, negative ``a`` included (``div`` truncates toward zero)."""
    return F.call_function("div", a, F.lit(b)) - (a % F.lit(b) < 0).cast("long")


def _null_msg(fn: str, col: str, what: str, n=None) -> str:
    """The one rejection message both packing routes give for NULL inputs."""
    rows = "" if n is None else f" in {n} row(s)"
    return (f"{fn}: NULL {col!r} {what}{rows} — a NULL has no place in the "
            "concatenation order; drop or fill it first")


def chunk_pack(
    df: DataFrame,
    chunk_size: int,
    tokens_col: str,
    order_col: str = "doc_id",
    shard_size: int = 65536,
    shard_expr=None,
) -> DataFrame:
    """Concat-and-chunk packing: conceptually concatenate every document's
    tokens in ``order_col`` order and slice the stream into fixed
    ``chunk_size`` windows (the standard pretraining sequence-packing
    scheme).  Emits, per document::

        chunk_id     window index where the document STARTS
        chunk_offset token offset of the document within that window
        n_chunks     how many windows the document spans (0 for empty docs)

    Scale shape: the global running token offset is a distributed prefix
    sum, NOT a ``Window.orderBy`` with no partition key (which Catalyst
    plans as a single-partition sort — the whole corpus through one task).
    Documents are sharded by ``order_col`` range (``order_col div
    shard_size`` for the numeric default — contiguous in the global order by
    construction); the in-shard running sum is a windowed aggregate behind
    ONE hash exchange, and the cross-shard offsets come from a
    count/sum-per-shard aggregate — thousands of rows at any corpus size —
    prefix-summed in a bounded single-partition window and broadcast back.
    Total cost: one exchange over the data + one broadcast join, all
    JVM-side.

    ``order_col`` must be numeric and unique (document ids).  For a
    non-numeric order key pass ``shard_expr``: any expression that is
    constant-per-shard and monotone in the key's order (e.g. a date bucket
    for timestamp keys).  ``tokens_col`` must be non-negative; negative
    counts would silently corrupt every later offset, so validate upstream.
    A NULL order key or token count fails the job (``raise_error``), as
    the sorted route fails its pre-pass.

    Every input column rides along, THROUGH the exchange.  When only the
    assignment is needed, ``select(order_col, tokens_col)`` first so the
    shuffle ships fixed-width pairs; when the packed payload itself is the
    output, carrying it through this one exchange beats any join-back plan
    (the join would re-shuffle the corpus a second time).
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_pack: chunk_size must be positive, got {chunk_size}")
    for c in ("chunk_id", "chunk_offset", "n_chunks", "_shard", "_local_end", "_before"):
        if c in df.columns:
            raise ValueError(f"chunk_pack: input already has a {c!r} column")
    if shard_expr is None:
        shard_expr = _floor_div(F.col(order_col).cast("long"), shard_size)
    toks = F.col(tokens_col).cast("long")
    # every row passes through _shard on both branches below
    shard = (
        F.when(F.col(order_col).isNull(),
               F.raise_error(F.lit(_null_msg("chunk_pack", order_col, "order key"))))
        .when(F.col(tokens_col).isNull(),
              F.raise_error(F.lit(_null_msg("chunk_pack", tokens_col, "token count"))))
        .otherwise(shard_expr)
    )

    keyed = df.withColumn("_shard", shard)
    w = (
        Window.partitionBy("_shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = keyed.withColumn("_local_end", F.sum(toks).over(w))

    # per-shard totals: a second, column-pruned pass over the source (scan
    # reads only shard key + tokens), aggregated map-side to one tiny row
    # per shard, then prefix-summed over all PRIOR shards.  The single-
    # partition window here is over #shards rows — bounded by corpus_size /
    # shard_size, not by corpus size
    totals = keyed.groupBy("_shard").agg(F.sum(toks).alias("_tot"))
    # constant partition key: same bounded single-partition evaluation as a
    # bare orderBy window, minus the WindowExec "No Partition Defined"
    # warning that would (wrongly) suggest the DATA path is unpartitioned
    wp = (
        Window.partitionBy(F.lit(0))
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.select(
        "_shard", F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_before")
    )

    start = F.col("_before") + F.col("_local_end") - toks
    return (
        local.join(F.broadcast(prefix), "_shard")
        .withColumn("chunk_id", _floor_div(start, chunk_size))
        .withColumn("chunk_offset", start - F.col("chunk_id") * chunk_size)
        .withColumn(
            "n_chunks",
            F.when(toks == 0, F.lit(0).cast("long")).otherwise(
                _floor_div(start + toks - 1, chunk_size) - F.col("chunk_id") + 1
            ),
        )
        .drop("_shard", "_local_end", "_before")
    )


def chunk_pack_sorted(
    df: DataFrame,
    chunk_size: int,
    tokens_col: str,
    order_col: str = "doc_id",
) -> DataFrame:
    """Zero-shuffle twin of :func:`chunk_pack` for corpora whose PHYSICAL
    layout is already sorted by ``order_col`` — what clustered/ordered
    writes produce (``sources.write_zordered`` on the key, a range-
    partitioned ingest, or any ``sortWithinPartitions``+range layout).
    Identical output columns and semantics.

    Plan shape: a tiny column-pruned pre-pass aggregates per
    (scan-partition, file) FRAGMENT — the unit Spark's file packing
    actually produces: small files are bin-packed into one partition in
    SIZE order (not key order), and large files are split across
    partitions — collecting O(#fragments) rows of (row count, token total,
    key min/max) to the driver.  Fragments are stitched back into global
    key order there (per file by key range, per fragment within file by
    key range), prefix offsets computed, broadcast; the main pass is ONE
    narrow ``mapInPandas`` that streams each fragment in order, carrying a
    running offset.  No exchange touches the data, so the job scales at
    the scan ceiling — the route to prefer at 100-TB scale whenever the
    table layout qualifies (measured: ``scripts/scaling.py packing
    --route sorted``).

    The layout contract is VERIFIED, not assumed, and fails loudly toward
    the generic route:

    * across files and across same-file fragments: key ranges must be
      disjoint (pre-pass, driver-side);
    * within a fragment: keys must be strictly increasing (main pass,
      per batch — also implies uniqueness);
    * plan stability: the main pass re-checks each fragment's row count
      and first key against the pre-pass, so a scan that split differently
      between the two passes aborts instead of mis-packing (discarded
      task output never commits, so the abort is clean).

    NULL order keys and token counts are counted in the pre-pass and
    rejected with a ``ValueError``, as the generic route rejects them.

    Unlike the generic route, ``order_col`` may be ANY orderable type
    (strings included) — no numeric shard arithmetic is involved.  The
    input must be a file-source scan (``input_file_name()`` identifies
    fragments); in-memory DataFrames take the generic route.
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_pack_sorted: chunk_size must be positive, got {chunk_size}")
    for c in ("chunk_id", "chunk_offset", "n_chunks", "_gst_file"):
        if c in df.columns:
            raise ValueError(f"chunk_pack_sorted: input already has a {c!r} column")
    toks = F.col(tokens_col).cast("long")
    tagged = df.withColumn("_gst_file", F.input_file_name())
    stats = (
        tagged.select(
            F.spark_partition_id().alias("_pid"),
            F.col("_gst_file"),
            toks.alias("_t"),
            F.col(order_col).alias("_k"),
        )
        .groupBy("_pid", "_gst_file")
        .agg(
            F.count("*").alias("n"),
            F.sum("_t").alias("tot"),
            F.min("_k").alias("kmin"),
            F.max("_k").alias("kmax"),
            F.count_if(F.col("_k").isNull()).alias("null_k"),
            F.count_if(F.col("_t").isNull()).alias("null_t"),
        )
        .collect()
    )
    for field, col, what in (("null_k", order_col, "order key"),
                             ("null_t", tokens_col, "token count")):
        if n_null := sum(r[field] for r in stats):
            raise ValueError(_null_msg("chunk_pack_sorted", col, what, n_null))
    frags = [r for r in stats if r["n"] > 0]
    if frags and all(r["_gst_file"] == "" for r in frags):
        raise ValueError(
            "chunk_pack_sorted: input is not a file-source scan "
            "(input_file_name() is empty) — fragment identity is undefined; "
            "use the generic chunk_pack route"
        )
    by_file: dict = {}
    for r in frags:
        by_file.setdefault(r["_gst_file"], []).append(r)
    files = []
    for fname, rs in by_file.items():
        rs.sort(key=lambda r: r["kmin"])
        for a, b in zip(rs, rs[1:]):
            if not a["kmax"] < b["kmin"]:
                raise ValueError(
                    f"chunk_pack_sorted: fragments of {fname!r} have "
                    f"overlapping {order_col!r} ranges — rows are not "
                    "sorted by the key inside the file (or keys repeat); "
                    "use the generic chunk_pack route"
                )
        files.append((rs[0]["kmin"], rs[-1]["kmax"], fname, rs))
    files.sort(key=lambda t: t[0])
    for (_, amax, aname, _), (bmin, _, bname, _) in zip(files, files[1:]):
        if not amax < bmin:
            raise ValueError(
                "chunk_pack_sorted: file key ranges overlap "
                f"({aname!r} [..{amax!r}] vs {bname!r} [{bmin!r}..]) — the "
                f"physical layout is not clustered by {order_col!r} (or "
                "keys repeat).  Sort/cluster the table on the key first "
                "(e.g. a range-partitioned or write_zordered layout), or "
                "use the generic chunk_pack route."
            )
    offs, expected, acc = {}, {}, 0
    for _, _, fname, rs in files:
        for r in rs:
            offs[(r["_pid"], fname)] = acc
            expected[(r["_pid"], fname)] = (r["n"], r["kmin"])
            acc += r["tot"]
    bc = df.sparkSession.sparkContext.broadcast((offs, expected))

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("chunk_id", T.LongType()),
            T.StructField("chunk_offset", T.LongType()),
            T.StructField("n_chunks", T.LongType()),
        ]
    )

    def assign(iterator):
        import numpy as np
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        offs, expected = bc.value
        cur_file = None
        running = 0
        seen: dict = {}  # file -> [rows, first_key, last_key]

        def check_done(fname):
            n_exp, kmin_exp = expected[(pid, fname)]
            n_got, first_key, _ = seen[fname]
            if n_got != n_exp or first_key != kmin_exp:
                raise RuntimeError(
                    f"chunk_pack_sorted: partition {pid} saw {n_got} rows of "
                    f"{fname!r} starting at {first_key!r} but the pre-pass "
                    f"recorded {n_exp} starting at {kmin_exp!r} — scan "
                    "planning diverged between passes; use the generic "
                    "chunk_pack route"
                )

        for pdf in iterator:
            if len(pdf) == 0:
                continue
            fcol = pdf["_gst_file"].to_numpy()
            change = np.nonzero(fcol[1:] != fcol[:-1])[0] + 1
            bounds = [0, *change.tolist(), len(fcol)]
            out = pdf.drop(columns=["_gst_file"]).copy()
            cid = np.empty(len(fcol), dtype="int64")
            coff = np.empty(len(fcol), dtype="int64")
            nch = np.empty(len(fcol), dtype="int64")
            for s, e in zip(bounds, bounds[1:]):
                fname = fcol[s]
                if fname != cur_file:
                    if cur_file is not None:
                        check_done(cur_file)
                    if fname in seen:
                        raise RuntimeError(
                            f"chunk_pack_sorted: partition {pid} revisits "
                            f"{fname!r} after leaving it — non-contiguous "
                            "fragment; use the generic chunk_pack route"
                        )
                    if (pid, fname) not in offs:
                        raise RuntimeError(
                            f"chunk_pack_sorted: partition {pid} reads "
                            f"{fname!r} but the pre-pass did not — scan "
                            "planning diverged between passes; use the "
                            "generic chunk_pack route"
                        )
                    cur_file = fname
                    running = offs[(pid, fname)]
                    seen[fname] = [0, None, None]
                k = pdf[order_col].iloc[s:e]
                if not (k.is_monotonic_increasing and k.is_unique):
                    raise ValueError(
                        f"chunk_pack_sorted: rows of {fname!r} are not "
                        f"strictly increasing in {order_col!r} — layout "
                        "contract violated; use the generic chunk_pack route"
                    )
                st = seen[fname]
                if st[2] is not None and not st[2] < k.iloc[0]:
                    raise ValueError(
                        f"chunk_pack_sorted: batch boundary in {fname!r} "
                        f"breaks {order_col!r} ordering — layout contract "
                        "violated; use the generic chunk_pack route"
                    )
                if st[1] is None:
                    st[1] = k.iloc[0]
                st[2] = k.iloc[-1]
                t = pdf[tokens_col].iloc[s:e].to_numpy().astype("int64")
                cs = np.cumsum(t)
                start = running + cs - t
                cid[s:e] = start // chunk_size
                coff[s:e] = start % chunk_size
                nch[s:e] = np.where(
                    t == 0,
                    0,
                    (start + np.maximum(t, 1) - 1) // chunk_size
                    - start // chunk_size
                    + 1,
                )
                running += int(cs[-1])
                st[0] += e - s
            out["chunk_id"] = cid
            out["chunk_offset"] = coff
            out["n_chunks"] = nch
            yield out
        if cur_file is not None:
            check_done(cur_file)

    return tagged.mapInPandas(assign, out_schema)
