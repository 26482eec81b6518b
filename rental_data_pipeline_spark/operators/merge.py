"""J1–J5 / J12 / W1–W4 / A4–A6: the keyed upsert merge with CDC —
the reference's core operator (``data_process/merge.py:4-111``),
re-derived Spark-first.

The reference folds each source record *sequentially* into a dict of
state keyed by ``offer_id``: a later record in the same batch compares
against state already updated by an earlier one. That sequential fold
is re-expressed here as ONE declarative pass:

    events  = state-seed rows (seq 0)  ∪  source rows (seq 1..n per key)
    windows = last-non-null price / is_unpublished before each row
              → price-change + unpublish-transition row flags
    groupBy = per-key aggregation: last-non-null per column (J2),
              protected/first-row columns (J3), CDC outputs (W1/W2,
              A4/A5/A6), coalesced against the target side.

Scale shape: the window and the aggregation hash-partition on the same
key, so the whole merge is a **single shuffle** of (state + batch); the
final state is produced with no join (the target participates as seed
rows). Skewed keys are impossible by construction (one state row +
batch_size rows per key); AQE handles residual imbalance.

Semantics preserved (each is a test case in tests/test_merge.py):

- J2  null-skip: a null source field never clobbers stored state.
- J3  protected: ``timestamp``/``image_urls`` are never updated for an
      existing key, but are taken from the *first* source row for a
      brand-new key (reference deepcopies the first record).
- J4  ``description`` is not updated by a record that is unpublishing.
- J5  source rows with no key but an ``offer_url`` matching state adopt
      that key and force ``is_unpublished = true``.
- J12 last-wins within batch — made explicit via ``order_cols``
      (the reference relies on list arrival order).
- W1  price change detected against the *evolving* stored price (last
      non-null numeric price from seed or earlier batch rows), only
      when the row has ``updated_date`` and both prices are numeric;
      mutually exclusive with W2 on the same row (reference ``elif``).
- W2  unpublish transition: row has updated_date, row is_unpublished is
      exactly true, stored value exactly false → ``unpublished_date``.
- W4  rows without ``updated_date`` merge fields but produce no CDC.
- A4/A5 change count increments and comma-joined history strings append
      in event order, continuing any history already in the state.
- A6  new key: ``publication_date = last_active = updated_date`` of the
      first source row (only if that row carries one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rental_data_pipeline_spark.functions.numeric import price_diff_sql
from rental_data_pipeline_spark.functions.text import derive_status
from rental_data_pipeline_spark.schema import PROTECTED_COLUMNS

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


def _q(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _and(*terms: str) -> str:
    """``((a AND b) AND c)``: nested left-deep as the Column API's ``&``
    chain was — the SQL parser balances a flat chain — so the optimized
    plans match the Column-built ones (``plans/r15/merge_*``)."""
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} AND {t})"
    return out


def _project(df: DataFrame, *exprs: str) -> DataFrame:
    """``df.selectExpr(*exprs)`` as one SQL statement: ``selectExpr``
    hands its list to the JVM with one py4j call per element, while
    the statement crosses in one (plus creating and dropping the temp
    view it reads ``df`` through). The optimizer removes the view, so
    the optimized plan is the ``selectExpr`` one."""
    body = ", ".join(exprs).replace("{", "{{").replace("}", "}}")
    return df.sparkSession.sql(f"SELECT {body} FROM {{df}}", df=df)


def _align(df: DataFrame, columns: list[tuple[str, str]], *extra: str) -> DataFrame:
    """Project df to exactly `columns` (name, ddl-type), nulling missing,
    then the ``extra`` SQL expressions."""
    have = {f.name for f in df.schema.fields}
    exprs = [
        f"CAST({_q(name) if name in have else 'NULL'} AS {dtype}) AS {_q(name)}"
        for name, dtype in columns
    ]
    return _project(df, *exprs, *extra)


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

    Every expression except the seq window (``order_cols`` may hold
    Columns) is Spark SQL text handed to Spark in one call: a Column
    tree costs one py4j round trip per node, ~14.6k for this merge's
    ~50 aggregates.
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
    k, upd, price, unpub = _q(key), _q(upd_col), _q(price_col), _q(unpub_col)

    # ---- J5: adopt key via offer_url; unmatched keyless rows drop ----
    if url_col in src_types and url_col in tgt_types:
        url = _q(url_col)
        lookup = _project(
            target.where(f"{k} IS NOT NULL AND {url} IS NOT NULL"),
            f"{url} AS __lk_url", f"{k} AS __lk_key",
        ).dropDuplicates(["__lk_url"])
        keyed = source.where(f"{k} IS NOT NULL")
        # broadcast the KEYLESS BATCH ROWS, not the lookup: the lookup
        # is projected from the ENTIRE target state (every url->key
        # pair — unbounded at corpus scale, where a forced broadcast
        # dies at the 8 GB limit), while the keyless rows of one batch
        # are tiny; the inner join lets Spark build on either side
        unkeyed = (
            F.broadcast(source.where(f"{k} IS NULL AND {url} IS NOT NULL"))
            .join(lookup, F.expr(f"{url} = __lk_url"), "inner")
            .withColumns({
                key: F.col("__lk_key"),
                unpub_col: F.expr(
                    f"CAST(true AS {merged_types.get(unpub_col, 'boolean')})"
                ),
            })
            .drop("__lk_url", "__lk_key")
        )
        source = keyed.unionByName(unkeyed, allowMissingColumns=True)
    else:
        source = source.where(f"{k} IS NOT NULL")

    # ---- build the per-key event stream: seed first, batch after -----
    event_cols = columns + [(upd_col, upd_type)]
    events = _align(
        target.where(f"{k} IS NOT NULL"), event_cols, f"false AS {_IS_SRC}"
    ).unionByName(_align(source, event_cols, f"true AS {_IS_SRC}"))

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
    # doesn't support them); identical rows tie harmlessly. This is
    # the one Column-API window: ``order_cols`` may hold Columns.
    hashable = [_q(n) for n, t in columns if "map<" not in t]
    tiebreak = F.expr(f"xxhash64({', '.join(hashable)})" if hashable else "0")
    w_order = Window.partitionBy(key).orderBy(
        F.col(_IS_SRC).asc(), *order_cols, tiebreak.asc()
    )
    events = events.select("*", F.row_number().over(w_order).alias(_SEQ))
    before = (
        f"OVER (PARTITION BY {k} ORDER BY {_SEQ}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )

    # ---- T5 ordering guard: drop stale source rows ------------------
    if guard_out_of_order:
        # a dropped row is by definition <= the running max, so its
        # absence cannot change the watermark later rows compare to
        seed_la = "last_active" if "last_active" in merged_types else "NULL"
        event_la = (
            f"CASE WHEN {_IS_SRC} THEN {upd} ELSE CAST({seed_la} AS {upd_type}) END"
        )
        stale = f"{upd} < max({event_la}) {before}"
        events = (
            _project(
                events, "*",
                f"coalesce({_and(_IS_SRC, f'{upd} IS NOT NULL', stale)}, false)"
                " AS __stale",
            )
            .where("NOT __stale")
            .drop("__stale")
        )

    # ---- W1/W2 row flags against evolving state (window, same key) ---
    prev_price = f"last({price}, true) {before}"
    has_upd = f"{upd} IS NOT NULL"
    unpub_tr = _and(
        _IS_SRC, has_upd, f"{unpub} = true", f"last({unpub}, true) {before} = false"
    )
    price_chg = _and(
        _IS_SRC, has_upd, f"NOT coalesce({unpub_tr}, false)",
        f"{price} IS NOT NULL", f"{prev_price} IS NOT NULL", f"{price} != {prev_price}",
    )
    flagged = _project(
        events, "*",
        f"coalesce({unpub_tr}, false) AS __unpub_tr",
        f"coalesce({price_chg}, false) AS __price_chg",
        f"CASE WHEN {price_chg} THEN {price_diff_sql(price, prev_price)} END AS __diff",
    )

    aggs = _merge_aggs(columns, upd_type, key, upd, unpub, desc_col, protected)
    out = flagged.groupBy(key).agg(*map(F.expr, aggs)).drop("__has_tgt")
    if derive_status_col:
        out = out.withColumn("status", derive_status(F.col(unpub_col)))
    return out


def _merge_aggs(
    columns: list[tuple[str, str]],
    upd_type: str,
    key: str,
    upd: str,
    unpub: str,
    desc_col: str,
    protected: tuple[str, ...],
) -> list[str]:
    """The per-key aggregates (J2-J4, W1/W2, A4-A6) as SQL text over the
    flagged event stream; ``upd``/``unpub`` are quoted column names."""
    src_seq = f"CASE WHEN {_IS_SRC} THEN {_SEQ} END"
    has_tgt = f"max(CASE WHEN NOT {_IS_SRC} THEN 1 END) IS NOT NULL"

    def last_src(c: str) -> str:
        """Last non-null value among source rows (J2, J12)."""
        return f"max_by({c}, CASE WHEN {_IS_SRC} AND {c} IS NOT NULL THEN {_SEQ} END)"

    def first_src(c: str) -> str:
        """Value at the first source row, nulls included (J3/A6)."""
        return f"min_by(struct({c} AS v), {src_seq}).v"

    def tgt_val(c: str) -> str:
        return f"max_by(struct({c} AS v), CASE WHEN NOT {_IS_SRC} THEN 0 END).v"

    aggs = [f"{has_tgt} AS __has_tgt"]
    for name, _ in columns:
        if name == key or name in _CDC_OUT:
            continue
        c = _q(name)
        if name in protected:
            agg = f"CASE WHEN {has_tgt} THEN {tgt_val(c)} ELSE {first_src(c)} END"
        elif name == desc_col:
            # J4 gating applies to *updates* only; a brand-new key's
            # first row contributes its description unconditionally
            # (the reference deepcopies the creating record).
            gated = f"CASE WHEN NOT coalesce({unpub}, false) THEN {c} END"
            after_first = _and(_IS_SRC, f"{gated} IS NOT NULL", f"{_SEQ} > 1")
            gated_after_first = f"max_by({gated}, CASE WHEN {after_first} THEN {_SEQ} END)"
            agg = (
                f"CASE WHEN {has_tgt} THEN coalesce({last_src(gated)}, {tgt_val(c)})"
                f" ELSE coalesce({gated_after_first}, {first_src(c)}) END"
            )
        else:
            agg = f"coalesce({last_src(c)}, {tgt_val(c)})"
        aggs.append(f"{agg} AS {c}")

    stored = {n for n, _ in columns}
    null_of = {"price_change_value": "BIGINT", "total_price_changes": "BIGINT",
               "price_changes": "STRING", "price_changes_dates": "STRING"}
    tgt = {
        n: tgt_val(_q(n)) if n in stored else f"CAST(NULL AS {null_of.get(n, upd_type)})"
        for n in _CDC_OUT
    }
    n_changes = "sum(CASE WHEN __price_chg THEN 1 ELSE 0 END)"
    last_chg_seq = f"CASE WHEN __price_chg THEN {_SEQ} END"
    # startswith covers TIMESTAMP_NTZ (tz-naive parquet) as well as LTZ;
    # second resolution matches the reference's %Y-%m-%d %H:%M:%S format.
    upd_str = (
        f"date_format({upd}, 'yyyy-MM-dd HH:mm:ss')"
        if upd_type.startswith("timestamp")
        else f"CAST({upd} AS STRING)"
    )

    def hist(prior: str, d: str) -> str:
        """``prior`` history, then this batch's change values in seq order."""
        new = (
            "array_join(transform(array_sort(collect_list(CASE WHEN __price_chg"
            f" THEN struct({_SEQ} AS s, {d} AS d) END)), x -> x.d), ', ')"
        )
        prior_nn = f"CASE WHEN {prior} IS NOT NULL AND {prior} != '' THEN {prior} END"
        return (
            f"CASE WHEN {n_changes} > 0 THEN concat_ws(', ', {prior_nn}, {new})"
            f" ELSE {prior} END"
        )

    total = tgt["total_price_changes"]
    return aggs + [
        # A6: publication_date — target's, else first source row's upd
        f"CASE WHEN {has_tgt} THEN {tgt['publication_date']}"
        f" ELSE {first_src(upd)} END AS publication_date",
        f"coalesce({last_src(upd)}, {tgt['last_active']}) AS last_active",
        f"coalesce(max_by({upd}, CASE WHEN __unpub_tr THEN {_SEQ} END),"
        f" {tgt['unpublished_date']}) AS unpublished_date",
        f"coalesce(max_by(__diff, {last_chg_seq}), {tgt['price_change_value']})"
        " AS price_change_value",
        f"coalesce(max_by({upd}, {last_chg_seq}), {tgt['price_change_date']})"
        " AS price_change_date",
        f"CASE WHEN {n_changes} > 0 THEN coalesce({total}, 0) + {n_changes}"
        f" ELSE {total} END AS total_price_changes",
        f"{hist(tgt['price_changes'], 'CAST(__diff AS STRING)')} AS price_changes",
        f"{hist(tgt['price_changes_dates'], upd_str)} AS price_changes_dates",
    ]


def merge_snapshots(
    snapshots: DataFrame,
    key: str = "offer_id",
    order_cols: list[str | Column] | None = None,
    **kwargs,
) -> DataFrame:
    """Fold a whole snapshot history into state (empty initial target).

    This is the reference's merge applied to an event stream from
    scratch — the shape used for oracle-checkable CDC queries over the
    ``events`` table and for backfills at scale (one shuffle over the
    full history, partitioned by key).
    """
    empty = snapshots.limit(0)
    return merge_listings(empty, snapshots, key=key, order_cols=order_cols, **kwargs)
