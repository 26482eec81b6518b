"""Test-only reference for the CDC merge: ``merge_listings`` as it was
built from Column-API expression trees, kept verbatim (minus the
process-global expression cache it used to sit behind) so
``tests/test_merge_differential.py`` can hold the SQL-text merge in
``operators/merge.py`` to its outputs row for row. ``price_diff`` is
the Column form of ``functions.numeric.price_diff_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rental_data_pipeline_spark.functions.text import derive_status
from rental_data_pipeline_spark.schema import PROTECTED_COLUMNS


def price_diff(new: Column, old: Column) -> Column:
    return new.try_cast("long") - old.try_cast("long")


_SEQ = "__seq"
_IS_SRC = "__is_src"

# CDC output columns owned by the merge itself.
_CDC_OUT = (
    "publication_date",
    "last_active",
    "unpublished_date",
    "price_change_value",
    "price_change_date",
    "total_price_changes",
    "price_changes",
    "price_changes_dates",
)


def _align(df: DataFrame, columns: list[tuple[str, str]]) -> DataFrame:
    """Project df to exactly `columns` (name, ddl-type), nulling missing.

    Built as ONE ``selectExpr`` call: per-column ``F.col().cast()``
    objects cost 4-6 py4j round trips each, and this projection runs
    per micro-batch fold — the driver-side construction cost is real
    latency at streaming cadence (see ``_merge_exprs``)."""
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exprs = []
    for name, dtype in columns:
        q = name.replace("`", "``")
        if name in have:
            exprs.append(f"CAST(`{q}` AS {dtype}) AS `{q}`")
        else:
            exprs.append(f"CAST(NULL AS {dtype}) AS `{q}`")
    return df.selectExpr(*exprs)


def merge_listings(
    target: DataFrame,
    source: DataFrame,
    key: str = "offer_id",
    order_cols: list[str | Column] | None = None,
    price_col: str = "price_value",
    unpub_col: str = "is_unpublished",
    upd_col: str = "updated_date",
    desc_col: str = "description",
    url_col: str = "offer_url",
    protected: tuple[str, ...] = PROTECTED_COLUMNS,
    derive_status_col: bool = False,
    guard_out_of_order: bool = False,
) -> DataFrame:
    """J1: upsert ``source`` into ``target`` with CDC; returns new state.

    ``order_cols`` makes J12's arrival order explicit (default:
    ``[upd_col]`` — callers should add a unique tiebreak column when
    updated_date can collide within a key).

    ``guard_out_of_order`` adds the T5 ordering guard the reference
    deliberately lacks (SURVEY §2.8 T5: in ``data_process/merge.py:
    37-47,73-95`` an older ``updated_date`` still overwrites; the
    suggested guard is ``src.updated_date >= tgt.last_active``).
    When enabled, a source row whose ``updated_date`` is strictly
    older than the last-active watermark *at its position in the
    fold* — the stored target ``last_active`` plus every earlier
    source row's ``updated_date``, exactly the evolving
    ``tgt.last_active`` a sequential fold would compare against — is
    a complete no-op: no field merge, no CDC. Rows without
    ``updated_date`` cannot be ordered and keep their W4 semantics
    (fields merge, zero CDC). The guard is one running-max window on
    the same key partitioning — no extra shuffle. Default off =
    reference parity (pinned by tests/test_streaming.py T5 replay).
    """
    order_cols = order_cols or [upd_col]

    # ---- union schema (mergeable columns; upd_col never stored: J3) --
    tgt_types = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    src_types = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    names: list[str] = []
    for n in list(tgt_types) + [n for n in src_types if n not in tgt_types]:
        if n not in names and n != upd_col:
            names.append(n)
    for n in (key, price_col, unpub_col, desc_col):
        if n not in names:
            names.append(n)
    merged_types = {n: src_types.get(n, tgt_types.get(n, "string")) for n in names}
    # both sides must agree; prefer target's type for stored columns
    for n in names:
        if n in tgt_types:
            merged_types[n] = tgt_types[n]
    columns = [(n, merged_types[n]) for n in names]
    upd_type = src_types.get(upd_col, "timestamp")

    # ---- J5: adopt key via offer_url; unmatched keyless rows drop ----
    if url_col in src_types and url_col in tgt_types:
        lookup = (
            target.where(F.col(key).isNotNull() & F.col(url_col).isNotNull())
            .select(F.col(url_col).alias("__lk_url"), F.col(key).alias("__lk_key"))
            .dropDuplicates(["__lk_url"])
        )
        keyed = source.where(F.col(key).isNotNull())
        # broadcast the KEYLESS BATCH ROWS, not the lookup: the lookup
        # is projected from the ENTIRE target state (every url->key
        # pair — unbounded at corpus scale, where a forced broadcast
        # dies at the 8 GB limit), while the keyless rows of one batch
        # are tiny; the inner join lets Spark build on either side
        unkeyed = (
            F.broadcast(
                source.where(F.col(key).isNull() & F.col(url_col).isNotNull())
            )
            .join(
                lookup,
                F.col(url_col) == F.col("__lk_url"),
                "inner",
            )
            .withColumn(key, F.col("__lk_key"))
            .withColumn(unpub_col, F.lit(True).cast(merged_types.get(unpub_col, "boolean")))
            .drop("__lk_url", "__lk_key")
        )
        source = keyed.unionByName(unkeyed, allowMissingColumns=True)
    else:
        source = source.where(F.col(key).isNotNull())

    # ---- build the per-key event stream: seed first, batch after -----
    ex = _merge_exprs(
        tuple(columns), upd_type, key, price_col, unpub_col, upd_col,
        desc_col, tuple(protected), tuple(order_cols), guard_out_of_order,
    )
    src_events = _align(source, columns + [(upd_col, upd_type)]).select(
        "*", F.lit(True).alias(_IS_SRC)
    )
    tgt_events = _align(target.where(F.col(key).isNotNull()), columns + [(upd_col, upd_type)]).select(
        "*", F.lit(False).alias(_IS_SRC)
    )
    events = tgt_events.unionByName(src_events).select("*", ex["seq"])

    # ---- T5 ordering guard: drop stale source rows ------------------
    if guard_out_of_order:
        # a dropped row is by definition <= the running max, so its
        # absence cannot change the watermark later rows compare to
        events = (
            events.select("*", ex["stale"])
            .where(~F.col("__stale"))
            .drop("__stale")
        )

    flagged = events.select("*", *ex["flags"])
    out = flagged.groupBy(key).agg(*ex["aggs"]).drop("__has_tgt")
    if derive_status_col:
        out = out.withColumn("status", derive_status(F.col(unpub_col)))
    return out


def _merge_exprs(
    columns: tuple[tuple[str, str], ...],
    upd_type: str,
    key: str,
    price_col: str,
    unpub_col: str,
    upd_col: str,
    desc_col: str,
    protected: tuple[str, ...],
    order_cols: tuple,
    guard_out_of_order: bool,
) -> dict:
    """The merge's pure expression set (seq window, T5 guard, CDC row
    flags, per-key aggregates) for one signature."""
    # ---- seq: one window numbers the whole event stream --------------
    # _IS_SRC leads the sort, so the (keyed-unique) seed row always
    # precedes every source row regardless of order_cols, exactly the
    # old seed-seq-0 contract. Numbering the union instead of the
    # source alone lets the seq window, the prev-value window and the
    # per-key aggregation share a single Exchange on the key
    # (numbering the source pre-union forced a second full shuffle of
    # state + batch for the union's window). Sequence semantics are
    # unchanged where they matter: relative order is identical, and a
    # brand-new key (no seed row) numbers its source rows 1..n exactly
    # as before, which the J4 first-source-row test (seq > 1) relies
    # on; with a seed present source rows shift to 2..n+1, and no
    # consumer of _SEQ in that branch reads absolute values.
    # Final deterministic tiebreak: when two batch rows share key + all
    # order_cols (e.g. colliding updated_date), break by a content hash
    # so last-wins is stable across runs and partitionings, not
    # arbitrary shuffle order. Map columns are excluded (xxhash64
    # doesn't support them); identical rows tie harmlessly.
    hashable = [n for n, t in columns if "map<" not in t]
    tiebreak_hash = F.xxhash64(*[F.col(n) for n in hashable]) if hashable else F.lit(0)
    w_order = Window.partitionBy(key).orderBy(
        F.col(_IS_SRC).asc(), *order_cols, tiebreak_hash.asc()
    )
    seq_col = F.row_number().over(w_order).alias(_SEQ)

    # ---- T5 guard column ---------------------------------------------
    has_la = any(n == "last_active" for n, _ in columns)
    seed_la = (
        F.col("last_active").cast(upd_type)
        if has_la
        else F.lit(None).cast(upd_type)
    )
    event_la = F.when(F.col(_IS_SRC), F.col(upd_col)).otherwise(seed_la)
    w_guard = (
        Window.partitionBy(key)
        .orderBy(_SEQ)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stale = (
        F.col(_IS_SRC)
        & F.col(upd_col).isNotNull()
        & (F.col(upd_col) < F.max(event_la).over(w_guard))
    )
    stale_col = F.coalesce(stale, F.lit(False)).alias("__stale")

    # ---- W1/W2 row flags against evolving state (window, same key) ---
    w_prev = (
        Window.partitionBy(key)
        .orderBy(_SEQ)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    price = F.col(price_col)
    unpub = F.col(unpub_col)
    upd = F.col(upd_col)
    prev_price = F.last(price, ignorenulls=True).over(w_prev)
    prev_unpub = F.last(unpub, ignorenulls=True).over(w_prev)

    is_src = F.col(_IS_SRC)
    unpub_transition = (
        is_src & upd.isNotNull() & (unpub == F.lit(True)) & (prev_unpub == F.lit(False))
    )
    price_change = (
        is_src
        & upd.isNotNull()
        & ~F.coalesce(unpub_transition, F.lit(False))
        & price.isNotNull()
        & prev_price.isNotNull()
        & (price != prev_price)
    )
    diff = price_diff(price, prev_price)  # try_cast-safe shared X20

    flags = [
        F.coalesce(unpub_transition, F.lit(False)).alias("__unpub_tr"),
        F.coalesce(price_change, F.lit(False)).alias("__price_chg"),
        F.when(price_change, diff).alias("__diff"),
    ]

    # ---- per-key aggregation ----------------------------------------
    seq = F.col(_SEQ)
    src_seq = F.when(is_src, seq)

    def last_src(c: Column) -> Column:
        """Last non-null value among source rows (J2, J12)."""
        return F.max_by(c, F.when(is_src & c.isNotNull(), seq))

    def first_src(c: Column) -> Column:
        """Value at the first source row, nulls included (J3/A6)."""
        return F.min_by(F.struct(c.alias("v")), src_seq)["v"]

    def tgt_val(c: Column) -> Column:
        return F.max_by(F.struct(c.alias("v")), F.when(~is_src, F.lit(0)))["v"]

    # startswith covers TIMESTAMP_NTZ (tz-naive parquet) as well as LTZ;
    # second resolution matches the reference's %Y-%m-%d %H:%M:%S format.
    upd_str = (
        F.date_format(upd, "yyyy-MM-dd HH:mm:ss")
        if upd_type.startswith("timestamp")
        else upd.cast("string")
    )

    aggs: list[Column] = [F.max(F.when(~is_src, F.lit(1))).isNotNull().alias("__has_tgt")]
    for name, _ in columns:
        if name == key or name in _CDC_OUT:
            continue
        c = F.col(name)
        if name in protected:
            aggs.append(
                F.when(
                    F.max(F.when(~is_src, F.lit(1))).isNotNull(), tgt_val(c)
                ).otherwise(first_src(c)).alias(name)
            )
        elif name == desc_col:
            # J4 gating applies to *updates* only; a brand-new key's
            # first row contributes its description unconditionally
            # (the reference deepcopies the creating record).
            gated = F.when(~F.coalesce(unpub, F.lit(False)), c)
            gated_after_first = F.max_by(
                gated, F.when(is_src & gated.isNotNull() & (seq > 1), seq)
            )
            aggs.append(
                F.when(
                    F.max(F.when(~is_src, F.lit(1))).isNotNull(),
                    F.coalesce(last_src(gated), tgt_val(c)),
                )
                .otherwise(F.coalesce(gated_after_first, first_src(c)))
                .alias(name)
            )
        else:
            aggs.append(F.coalesce(last_src(c), tgt_val(c)).alias(name))

    has_cdc_cols = {n for n, _ in columns} & set(_CDC_OUT)
    tgt_cdc = {n: tgt_val(F.col(n)) for n in _CDC_OUT if n in has_cdc_cols}
    null_ts = F.lit(None).cast(upd_type)
    n_changes = F.sum(F.when(F.col("__price_chg"), F.lit(1)).otherwise(F.lit(0)))
    last_upd = F.max_by(upd, F.when(is_src & upd.isNotNull(), seq))
    first_upd = first_src(upd)
    last_chg_seq = F.when(F.col("__price_chg"), seq)

    new_diffs = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__price_chg"), F.struct(seq.alias("s"), F.col("__diff").cast("string").alias("d")))
                )
            ),
            lambda x: x["d"],
        ),
        ", ",
    )
    new_dates = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__price_chg"), F.struct(seq.alias("s"), upd_str.alias("d")))
                )
            ),
            lambda x: x["d"],
        ),
        ", ",
    )

    def hist(prior: Column, new: Column) -> Column:
        prior_nn = F.when(prior.isNotNull() & (prior != ""), prior)
        return F.concat_ws(", ", prior_nn, new)

    aggs += [
        # A6: publication_date — target's, else first source row's upd
        F.when(
            F.max(F.when(~is_src, F.lit(1))).isNotNull(),
            tgt_cdc.get("publication_date", null_ts),
        ).otherwise(first_upd).alias("publication_date"),
        F.coalesce(last_upd, tgt_cdc.get("last_active", null_ts)).alias("last_active"),
        F.coalesce(
            F.max_by(upd, F.when(F.col("__unpub_tr"), seq)),
            tgt_cdc.get("unpublished_date", null_ts),
        ).alias("unpublished_date"),
        F.coalesce(
            F.max_by(F.col("__diff"), last_chg_seq),
            tgt_cdc.get("price_change_value", F.lit(None).cast("long")),
        ).alias("price_change_value"),
        F.coalesce(
            F.max_by(upd, last_chg_seq),
            tgt_cdc.get("price_change_date", null_ts),
        ).alias("price_change_date"),
        F.when(
            n_changes > 0,
            F.coalesce(tgt_cdc.get("total_price_changes", F.lit(None).cast("long")), F.lit(0))
            + n_changes,
        ).otherwise(tgt_cdc.get("total_price_changes", F.lit(None).cast("long"))).alias(
            "total_price_changes"
        ),
        F.when(n_changes > 0, hist(tgt_cdc.get("price_changes", F.lit(None).cast("string")), new_diffs))
        .otherwise(tgt_cdc.get("price_changes", F.lit(None).cast("string")))
        .alias("price_changes"),
        F.when(n_changes > 0, hist(tgt_cdc.get("price_changes_dates", F.lit(None).cast("string")), new_dates))
        .otherwise(tgt_cdc.get("price_changes_dates", F.lit(None).cast("string")))
        .alias("price_changes_dates"),
    ]

    return {"seq": seq_col, "stale": stale_col, "flags": flags, "aggs": aggs}
