"""CDC apply surface, oracle-checkable (SURVEY.md §2.A R2, R5-R11, R14).

A deterministic synthetic WAL is derived from the `events` table so DuckDB
can replay the same semantics:

    id           = event_id                  (total order, ≙ WalEntity.id)
    entity_id    = event_id % 500            (domain key; ~20 ops per key)
    operation    = signup -> ADD, error -> DELETE, else UPDATE
                   (≙ Operation.java:6-10)
    entity_bytes = utf-8 bytes of 'payload-<event_id>'
                   (≙ WalEntity.entity_bytes; decoded per
                   WalConsumerTest.java:106)
    entity_type  = 'user'

Applying the WAL in id order to an empty keyed target and reading the final
state is equivalent (per SURVEY.md §4.3: ops on different keys commute) to
keeping each key's last op and dropping DELETEs — which is exactly what
`operators.cdc.apply_cdc_batch` computes with the one `merge_cdc` window the
streaming consumer also applies through, and what the SQL oracle replays
with a window function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wal_consumer_spark.operators.broadcast import maybe_broadcast
from wal_consumer_spark.operators.cdc import apply_cdc_batch, last_op_per_key, merge_cdc
from wal_consumer_spark.plans.registry import register

from wal_consumer_spark.sources.tables import load_table

#: shared oracle fragment: the synthetic WAL as SQL
WAL_SQL = """
    SELECT event_id AS id,
           event_id % 500 AS entity_id,
           CASE event_type WHEN 'signup' THEN 'ADD'
                           WHEN 'error' THEN 'DELETE'
                           ELSE 'UPDATE' END AS operation,
           concat('payload-', CAST(event_id AS VARCHAR)) AS payload,
           'user' AS entity_type
    FROM events
"""


def _wal_slices(wal: DataFrame, n: int) -> list[DataFrame]:
    """Split the WAL into n contiguous id ranges at cuts k*(max(id) div n):
    slice i covers (c_i, c_{i+1}] with c_0 = -inf and c_n = +inf. The cuts
    are a 1-row broadcast scalar frame (no driver collect), mirrored in
    the oracles as `k * (MAX(id) // n)` — the single definition of the
    boundary-inclusivity convention for every position-sliced CDC query."""
    names = [f"__c{k}" for k in range(1, n)]
    cuts = wal.agg(
        *[F.expr(f"{k} * (max(id) div {n})").alias(f"__c{k}") for k in range(1, n)]
    )
    out = []
    for i in range(n):
        cond = None
        if i > 0:
            cond = F.col("id") > F.col(f"__c{i}")
        if i < n - 1:
            upper = F.col("id") <= F.col(f"__c{i + 1}")
            cond = upper if cond is None else (cond & upper)
        out.append(wal.join(F.broadcast(cuts), cond, "inner").drop(*names))
    return out


def synthetic_wal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("id"),
        (F.col("event_id") % 500).alias("entity_id"),
        F.when(F.col("event_type") == "signup", "ADD")
        .when(F.col("event_type") == "error", "DELETE")
        .otherwise("UPDATE")
        .alias("operation"),
        F.concat(F.lit("payload-"), F.col("event_id").cast("string"))
        .cast("binary")
        .alias("entity_bytes"),
        F.lit("user").alias("entity_type"),
    )


@register(
    "cdc_last_op_per_key",
    oracle=f"""
    WITH wal AS ({WAL_SQL})
    SELECT entity_id, id AS last_id, operation
    FROM (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
          FROM wal)
    WHERE rn = 1
    """,
    doc="Per-key last-op reduction (SURVEY.md §4.3): the batch equivalent of "
        "the reference's sequential head processing, WalConsumer.java:157-165.",
)
def cdc_last_op_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    last = last_op_per_key(synthetic_wal(spark, sf_dir))
    return last.select("entity_id", F.col("id").alias("last_id"), "operation")


@register(
    "cdc_apply_final_state",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    last AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
                       FROM wal) WHERE rn = 1
    )
    SELECT entity_id, payload, entity_type
    FROM last WHERE operation <> 'DELETE'
    """,
    doc="Full CDC apply into an empty target: ADD/UPDATE upsert, DELETE "
        "removes (R6-R8 semantics, WalConsumerTest.java:113-127); payload "
        "decoded back to utf-8 like WalConsumerTest.java:106.",
)
def cdc_apply_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    empty_target = spark.createDataFrame(
        [], "entity_id LONG, entity_bytes BINARY, entity_type STRING"
    )
    final = apply_cdc_batch(empty_target, wal)
    return final.select(
        "entity_id",
        F.col("entity_bytes").cast("string").alias("payload"),
        "entity_type",
    )


@register(
    "cdc_shuffled_replay_equivalence",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    last AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
                       FROM wal) WHERE rn = 1
    )
    SELECT entity_id, payload, entity_type
    FROM last WHERE operation <> 'DELETE'
    """,
    doc="Out-of-order replay invariance, driver-certified: the WAL is "
        "deterministically SHUFFLED (hash-reordered and re-partitioned — "
        "the arrival pattern of a parallel backfill or a multi-partition "
        "Kafka topic) before the same CDC apply as "
        "cdc_apply_final_state, and the oracle applies IN WAL ORDER. "
        "They match because the apply's last-op reduction keys on the "
        "monotonic WAL id (max-by, commutative), never on arrival order "
        "— the semantic property that lets a 100 TB backfill run with "
        "arbitrary parallelism instead of a serial replay. The "
        "property-based suite (tests/test_cdc_property.py) proves this "
        "for random sequences; this query puts one instance behind the "
        "driver's hash gate. Reference parity: R6-R8 + the R4 "
        "lost-race/ordering discussion (WalConsumer.java:186-257).",
)
def cdc_shuffled_replay_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    shuffled = (
        wal.orderBy(F.xxhash64("id", F.lit(17)))
        .repartition(16, F.pmod(F.xxhash64("id", F.lit(23)), F.lit(16)))
    )
    empty_target = spark.createDataFrame(
        [], "entity_id LONG, entity_bytes BINARY, entity_type STRING"
    )
    final = apply_cdc_batch(empty_target, shuffled)
    return final.select(
        "entity_id",
        F.col("entity_bytes").cast("string").alias("payload"),
        "entity_type",
    )


@register(
    "cdc_replay_idempotency",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    last AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
                       FROM wal) WHERE rn = 1
    )
    SELECT COUNT(*) FILTER (WHERE operation <> 'DELETE') AS already_done,
           COUNT(*) FILTER (WHERE operation = 'DELETE') AS absent
    FROM last
    """,
    doc="R10 idempotency observability (WalConsumer.java:271-278): replaying "
        "the same batch onto the applied target reports every upsert as "
        "already-done — the wal_num_ignored_already_done meter.",
)
def cdc_replay_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    empty_target = spark.createDataFrame([], "entity_id LONG, entity_bytes BINARY, entity_type STRING")
    applied = apply_cdc_batch(empty_target, wal)
    # the replay's winning DELETEs name keys the applied state no longer holds
    return merge_cdc(applied, wal).agg(
        F.count_if("__already_done").alias("already_done"),
        F.count_if(F.col("operation") == "DELETE").alias("absent"),
    )


@register(
    "cdc_state_asof",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    cut AS (SELECT MAX(id) // 2 AS t FROM wal),
    last AS (
        SELECT * FROM (
            SELECT w.*, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
            FROM wal w, cut WHERE w.id <= cut.t)
        WHERE rn = 1
    )
    SELECT entity_id, payload, entity_type
    FROM last WHERE operation <> 'DELETE'
    """,
    doc="Point-in-time state reconstruction (time travel): the target state "
        "after applying only WAL ids <= T (here T = max(id) div 2, a "
        "deterministic mid-stream cut). Same last-op-per-key reduction as "
        "cdc_apply_final_state over the bounded prefix — what a consumer "
        "recovering to a historical position (or an auditor) replays. The "
        "cut is a 1-row broadcast scalar, not a driver-side collect, so the "
        "plan stays fully distributed at any WAL size.",
)
def cdc_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    upto = _wal_slices(wal, 2)[0]
    empty_target = spark.createDataFrame(
        [], "entity_id LONG, entity_bytes BINARY, entity_type STRING"
    )
    final = apply_cdc_batch(empty_target, upto)
    return final.select(
        "entity_id",
        F.col("entity_bytes").cast("string").alias("payload"),
        "entity_type",
    )


@register(
    "cdc_net_changes",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    cuts AS (SELECT MAX(id) // 3 AS t1, 2 * (MAX(id) // 3) AS t2 FROM wal),
    before AS (
        SELECT entity_id FROM (
            SELECT w.*, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
            FROM wal w, cuts WHERE w.id <= cuts.t1)
        WHERE rn = 1 AND operation <> 'DELETE'
    ),
    win AS (
        SELECT * FROM (
            SELECT w.*, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
            FROM wal w, cuts WHERE w.id > cuts.t1 AND w.id <= cuts.t2)
        WHERE rn = 1
    )
    SELECT w.entity_id,
           CASE WHEN w.operation = 'DELETE' THEN 'DELETE'
                WHEN b.entity_id IS NOT NULL THEN 'UPDATE'
                ELSE 'INSERT' END AS change
    FROM win w LEFT JOIN before b ON w.entity_id = b.entity_id
    WHERE NOT (w.operation = 'DELETE' AND b.entity_id IS NULL)
    """,
    doc="Net-changes feed between two WAL positions (T1, T2]: per key, the "
        "net effect classified as INSERT (new key), UPDATE (existed at T1), "
        "or DELETE (existed and last op in the window deletes); keys "
        "added-and-deleted entirely inside the window net out to nothing. "
        "This is the changelog a downstream incremental consumer applies "
        "instead of replaying every intermediate op — the batch analog of "
        "the reference's at-least-once apply collapsing to last-op-per-key "
        "(SURVEY.md §4.3). Cuts are broadcast scalars; the classification "
        "join is per-key (narrow), never a scan of intermediate ops.",
)
def cdc_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    s = _wal_slices(wal, 3)
    before = (
        last_op_per_key(s[0])
        .filter(F.col("operation") != "DELETE")
        .select("entity_id")
    )
    win = last_op_per_key(s[1])
    existed = before.withColumn("__existed", F.lit(True))
    return (
        win.join(existed, "entity_id", "left")
        .filter(~((F.col("operation") == "DELETE") & F.col("__existed").isNull()))
        .select(
            "entity_id",
            F.when(F.col("operation") == "DELETE", "DELETE")
            .when(F.col("__existed").isNotNull(), "UPDATE")
            .otherwise("INSERT")
            .alias("change"),
        )
    )


@register(
    "cdc_scd2_history",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    v AS (
        SELECT entity_id, id AS valid_from, operation, payload,
               lead(id) OVER (PARTITION BY entity_id ORDER BY id) AS valid_to
        FROM wal
    )
    SELECT entity_id, payload, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM v WHERE operation <> 'DELETE'
    """,
    doc="SCD Type-2 dimension build from the WAL: every ADD/UPDATE opens a "
        "version valid over [its id, next op's id); a DELETE closes the "
        "prior version without opening one (its lead() id becomes the "
        "predecessor's valid_to), and the open version per key is flagged "
        "is_current. The full audit history a warehouse derives from the "
        "reference's change stream — one window pass over the WAL, "
        "partitioned by entity_id, no joins.",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    wal = synthetic_wal(spark, sf_dir)
    w = Window.partitionBy("entity_id").orderBy("id")
    return (
        wal.select(
            "entity_id",
            F.col("id").alias("valid_from"),
            "operation",
            F.col("entity_bytes").cast("string").alias("payload"),
            F.lead("id").over(w).alias("valid_to"),
        )
        .filter(F.col("operation") != "DELETE")
        .select(
            "entity_id",
            "payload",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


@register(
    "cdc_temporal_join",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    v AS (
        SELECT entity_id, id AS valid_from, operation, payload,
               lead(id) OVER (PARTITION BY entity_id ORDER BY id) AS valid_to
        FROM wal
    ),
    versions AS (SELECT * FROM v WHERE operation <> 'DELETE'),
    facts AS (SELECT id AS fact_id, entity_id FROM wal WHERE id % 7 = 0)
    SELECT f.fact_id, f.entity_id, ver.payload AS version_payload,
           ver.valid_from
    FROM facts f
    JOIN versions ver
      ON ver.entity_id = f.entity_id
     AND f.fact_id >= ver.valid_from
     AND (ver.valid_to IS NULL OR f.fact_id < ver.valid_to)
    """,
    doc="Temporal (point-in-time) join: each fact row joins the SCD2 "
        "version of its entity that was valid AT the fact's position — the "
        "feature-store / audit join that prevents training-time leakage "
        "(a fact must never see a dimension version from its future). "
        "Implementation is an equi-join on entity_id with the interval "
        "predicate as a post-join filter: per-entity version counts are "
        "bounded (~ops/key), so the fanout before the filter is a small "
        "constant — a band join, never a cross join; at 100 TB both sides "
        "shuffle once on entity_id. Facts = every 7th WAL id, giving a "
        "deterministic non-degenerate fact set.",
)
def cdc_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    wal = synthetic_wal(spark, sf_dir)
    w = Window.partitionBy("entity_id").orderBy("id")
    versions = (
        wal.select(
            "entity_id",
            F.col("id").alias("valid_from"),
            "operation",
            F.col("entity_bytes").cast("string").alias("payload"),
            F.lead("id").over(w).alias("valid_to"),
        )
        .filter(F.col("operation") != "DELETE")
    )
    facts = wal.filter(F.col("id") % 7 == 0).select(
        F.col("id").alias("fact_id"), "entity_id"
    )
    return (
        facts.join(versions, "entity_id")
        .filter(
            (F.col("fact_id") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("fact_id") < F.col("valid_to")))
        )
        .select(
            "fact_id",
            "entity_id",
            F.col("payload").alias("version_payload"),
            "valid_from",
        )
    )


@register(
    "cdc_incremental_join_view",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    last AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY id DESC) AS rn
                       FROM wal) WHERE rn = 1
    )
    SELECT l.entity_id, l.payload, n.n_name AS region_name
    FROM last l
    JOIN nation n ON n.n_nationkey = l.entity_id % 25
    WHERE l.operation <> 'DELETE'
    """,
    doc="Incremental maintenance of a materialized JOIN view (delta-view "
        "algorithm, the join-side complement to the aggregate-rollup MV in "
        "streaming/incremental.py): the WAL arrives in three id-ordered "
        "waves, and per wave the view is updated as "
        "V := (V anti-join delta-keys) UNION (delta-upserts JOIN dim) — "
        "old view rows are never re-joined, only the delta touches the "
        "dimension. The oracle is the FULL recomputed join, so the check "
        "proves three incremental applications converge to the batch "
        "answer exactly. Scale: per wave, one anti-join on the key and one "
        "broadcast dim join sized by the delta, independent of view size "
        "beyond the key anti-join. The WAL is materialized once "
        "(localCheckpoint) before slicing — the wave cuts and both "
        "consumers of each wave's delta would otherwise recompute the "
        "whole WAL scan/window subtree per reference (the repo's "
        "documented self-join recompute hazard); each wave's delta is "
        "likewise materialized since it feeds both the anti-join and the "
        "upsert join.",
)
def cdc_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir).localCheckpoint(eager=True)
    dim = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__nk"), F.col("n_name").alias("region_name")
    )
    waves = _wal_slices(wal, 3)
    view = spark.createDataFrame(
        [], "entity_id LONG, payload STRING, region_name STRING"
    )
    for wave in waves:
        delta = last_op_per_key(wave).localCheckpoint(eager=True)
        upserts = (
            delta.filter(F.col("operation") != "DELETE")
            .select(
                "entity_id",
                F.col("entity_bytes").cast("string").alias("payload"),
                (F.col("entity_id") % 25).alias("__nk"),
            )
            .join(F.broadcast(dim), "__nk")
            .select("entity_id", "payload", "region_name")
        )
        view = view.join(
            delta.select("entity_id"), "entity_id", "left_anti"
        ).unionByName(upserts)
    return view


@register(
    "dq_constraint_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS violations FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'orders_totalprice_positive',
           COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
    UNION ALL
    SELECT 'lineitem_quantity_range',
           (SELECT COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
            FROM lineitem)
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
            FROM lineitem)
    """,
    doc="Data-quality constraint suite (Deequ/dbt-test style) as ONE query: "
        "primary-key uniqueness, referential integrity (orders->customer "
        "anti-join), and domain-range checks, each reported as a named "
        "violation count. Scale: all range/uniqueness checks on a table "
        "fold into one scan-level aggregate (stack unpivot — adding more "
        "range checks adds no scan); the FK check is its own left "
        "anti-join on the key and therefore a second orders scan "
        "(asserted in tests/test_scale_plans.py). o_custkey is non-null "
        "in this schema; a nullable FK would need Spark's null-aware "
        "NOT IN instead of left_anti.",
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    # one aggregate per table, unpivoted with stack — N checks per table
    # never means N scans of it
    o_checks = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_v"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("price_v"),
    ).selectExpr(
        "stack(2, 'orders_pk_unique', pk_v,"
        " 'orders_totalprice_positive', price_v) AS (check_name, violations)"
    )
    fk = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_fk_customer").alias("check_name"), "violations")
    )
    li_checks = li.agg(
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("qty_v"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
        ).alias("disc_v"),
    ).selectExpr(
        "stack(2, 'lineitem_quantity_range', qty_v,"
        " 'lineitem_discount_range', disc_v) AS (check_name, violations)"
    )
    return o_checks.unionAll(fk).unionAll(li_checks)


@register(
    "dq_sequence_gap_audit",
    oracle="""
    SELECT gap_after, next_present, next_present - gap_after - 1 AS n_missing
    FROM (
        SELECT o_orderkey AS gap_after,
               lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_present
        FROM (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderstatus = 'F')
    )
    WHERE next_present - gap_after > 1
    ORDER BY gap_after LIMIT 100
    """,
    doc="Sequence-gap audit (lost-write detection for id-ordered stores — "
        "the operational check a WAL/outbox operator runs when producers "
        "claim writes that never surfaced): every run of missing ids in "
        "the key sequence, as (last id before gap, next id present, count "
        "missing). The oracle keeps the one-window formulation; the plan "
        "is CHUNKED (round-4 VERDICT 'What's wrong' #1 class — no global "
        "window over an entity-scaled table): intra-chunk gaps come from "
        "a lead() window PARTITIONED by key div 8192 (<= 8192 rows per "
        "partition, parallel across chunks), and cross-chunk gaps from a "
        "lead() over the per-chunk min/max table — 8192x smaller than the "
        "key set, and the same construction recurses to log_C(n) levels "
        "if even that table outgrows one partition. The audited sequence "
        "is the status='F' slice of o_orderkey: the full key is dense in "
        "this testdata, so the slice is what makes the audit "
        "non-degenerate (non-empty result, verified in tests/test_cdc.py).",
)
def dq_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wal_consumer_spark.operators.sequence import chunked_gaps

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    return (
        chunked_gaps(o, "o_orderkey", chunk_w=8192)
        .orderBy("gap_after")
        .limit(100)
    )


@register(
    "dq_split_drift_audit",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) FILTER (event_id % 2 = 0) AS DOUBLE) AS n_even,
               CAST(COUNT(*) FILTER (event_id % 2 = 1) AS DOUBLE) AS n_odd,
               CAST(COUNT(*) FILTER (event_id % 2 = 0 AND value IS NULL)
                    AS DOUBLE) AS vnull_even,
               CAST(COUNT(*) FILTER (event_id % 2 = 1 AND value IS NULL)
                    AS DOUBLE) AS vnull_odd,
               CAST(COUNT(DISTINCT CASE WHEN event_id % 2 = 0
                                        THEN event_type END) AS DOUBLE)
                   AS types_even,
               CAST(COUNT(DISTINCT CASE WHEN event_id % 2 = 1
                                        THEN event_type END) AS DOUBLE)
                   AS types_odd,
               CAST(COUNT(DISTINCT CASE WHEN event_id % 2 = 0
                                        THEN user_id END) AS DOUBLE)
                   AS users_even,
               CAST(COUNT(DISTINCT CASE WHEN event_id % 2 = 1
                                        THEN user_id END) AS DOUBLE)
                   AS users_odd
        FROM events
    )
    SELECT metric, even_value, odd_value,
           abs(even_value - odd_value) AS abs_delta
    FROM (
        SELECT 'row_count' AS metric, n_even AS even_value,
               n_odd AS odd_value FROM s
        UNION ALL
        SELECT 'value_null_rate', round(vnull_even / n_even, 6),
               round(vnull_odd / n_odd, 6) FROM s
        UNION ALL
        SELECT 'event_type_distinct', types_even, types_odd FROM s
        UNION ALL
        SELECT 'user_id_distinct', users_even, users_odd FROM s
    )
    ORDER BY metric
    """,
    doc="Shard-drift audit: per-column profile statistics (row count, "
        "null rate, distinct cardinalities) compared between the even- "
        "and odd-id halves of the corpus — the operational check that a "
        "writer, partitioner, or CDC replayer is not silently skewing "
        "one shard family (lost writes land here before they land "
        "anywhere else; complements dq_psi_drift's distribution test "
        "with schema-level vitals). ONE pass: conditional aggregates "
        "fold both halves in the same scan — map-side partials for the "
        "counts, one expand for the distincts — then a 4-row stack; "
        "deltas are single subtractions of exactly-represented doubles. "
        "At 100 TB: one aggregation, bounded output, no joins. "
        "Reference parity: R14/R15 operational metrics "
        "(WalConsumer.java:322-333) generalized to column vitals "
        "(SURVEY.md §2.C data-quality rows).",
)
def dq_split_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    even = F.col("event_id") % 2 == 0
    odd = F.col("event_id") % 2 == 1
    s = e.agg(
        F.count(F.when(even, 1)).cast("double").alias("n_even"),
        F.count(F.when(odd, 1)).cast("double").alias("n_odd"),
        F.count(F.when(even & F.col("value").isNull(), 1))
        .cast("double")
        .alias("vnull_even"),
        F.count(F.when(odd & F.col("value").isNull(), 1))
        .cast("double")
        .alias("vnull_odd"),
        F.countDistinct(F.when(even, F.col("event_type")))
        .cast("double")
        .alias("types_even"),
        F.countDistinct(F.when(odd, F.col("event_type")))
        .cast("double")
        .alias("types_odd"),
        F.countDistinct(F.when(even, F.col("user_id")))
        .cast("double")
        .alias("users_even"),
        F.countDistinct(F.when(odd, F.col("user_id")))
        .cast("double")
        .alias("users_odd"),
    )
    stacked = s.selectExpr(
        "stack(4,"
        " 'row_count', n_even, n_odd,"
        " 'value_null_rate', round(vnull_even / n_even, 6),"
        "                    round(vnull_odd / n_odd, 6),"
        " 'event_type_distinct', types_even, types_odd,"
        " 'user_id_distinct', users_even, users_odd"
        ") AS (metric, even_value, odd_value)"
    )
    return stacked.select(
        "metric",
        "even_value",
        "odd_value",
        F.abs(F.col("even_value") - F.col("odd_value")).alias("abs_delta"),
    ).orderBy("metric")


@register(
    "cdc_backlog_metrics",
    oracle=f"""
    WITH wal AS ({WAL_SQL})
    SELECT MIN(id) AS head_id, MAX(id) AS tail_id, COUNT(*) AS backlog
    FROM wal
    """,
    doc="R2 head discovery (select MIN(id), WalConsumer.java:240-257) and "
        "R14 backlog count (select COUNT(1), WalConsumer.java:322-333) as one "
        "scan-level aggregate.",
)
def cdc_backlog_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    return wal.agg(
        F.min("id").alias("head_id"),
        F.max("id").alias("tail_id"),
        F.count(F.lit(1)).alias("backlog"),
    )


@register(
    "cdc_op_mix",
    oracle=f"""
    WITH wal AS ({WAL_SQL})
    SELECT operation, entity_type, COUNT(*) AS n,
           MIN(id) AS first_id, MAX(id) AS last_id
    FROM wal GROUP BY operation, entity_type
    """,
    doc="Operation-mix accounting over the WAL (R15 meter inputs).",
)
def cdc_op_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    return wal.groupBy("operation", "entity_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("first_id"),
        F.max("id").alias("last_id"),
    )


@register(
    "dq_benford_digit_audit",
    oracle="""
    WITH d AS (
        SELECT CAST(floor(o_totalprice / power(10, floor(log10(o_totalprice))))
                    AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n_orders) AS DOUBLE) AS t FROM obs)
    SELECT digit, n_orders,
           round(n_orders / t, 6) AS p_obs,
           round(log10(1 + 1.0 / digit), 6) AS p_benford,
           round(pow(n_orders / t - log10(1 + 1.0 / digit), 2)
                 / log10(1 + 1.0 / digit) * t, 4) AS chi2_contrib
    FROM obs CROSS JOIN tot
    """,
    doc="Benford first-digit audit — the fraud/synthetic-data smell test "
        "for monetary columns: observed first-significant-digit frequency "
        "of o_totalprice vs the Benford expectation log10(1+1/d), with "
        "per-digit chi-square contributions. The digit is extracted "
        "arithmetically (floor(x/10^floor(log10 x))) rather than via "
        "double-to-string formatting, which differs between engines; "
        "libm log10/floor on identical doubles is bit-identical. One "
        "partial-agg scan onto a 9-row key space, scalar total broadcast "
        "back — the cheapest possible DQ pass at any scale. Reference "
        "parity: extends the reference's implicit data-quality stance "
        "(it trusts upstream; SURVEY.md §2.A has no DQ) with warehouse "
        "audit operators.",
)
def dq_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    obs = (
        o.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    tot = obs.agg(F.sum("n_orders").cast("double").alias("t"))
    p_obs = F.col("n_orders") / F.col("t")
    p_ben = F.log10(1 + 1.0 / F.col("digit"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_orders",
        F.round(p_obs, 6).alias("p_obs"),
        F.round(p_ben, 6).alias("p_benford"),
        F.round(F.pow(p_obs - p_ben, 2) / p_ben * F.col("t"), 4).alias("chi2_contrib"),
    )


@register(
    "cdc_tombstone_retention",
    oracle=f"""
    WITH wal AS ({{WAL_SQL}}),
    per_key AS (
        SELECT entity_id,
               MAX(id) AS last_id,
               MAX(CASE WHEN operation = 'DELETE' THEN id END) AS last_delete_id,
               MAX(CASE WHEN operation <> 'DELETE' THEN id END) AS last_write_id,
               CAST(SUM(CASE WHEN operation = 'DELETE' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_deletes
        FROM wal GROUP BY entity_id
    )
    SELECT CASE
               WHEN last_delete_id IS NULL THEN 'never_deleted'
               WHEN last_write_id IS NULL OR last_write_id < last_delete_id
                   THEN 'purgeable_tombstone'
               ELSE 'resurrected'
           END AS tombstone_state,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(n_deletes) AS BIGINT) AS n_delete_ops
    FROM per_key GROUP BY 1
    """.format(WAL_SQL=WAL_SQL),
    doc="Tombstone retention audit — the compaction-planning query every "
        "log-structured CDC target runs before purging DELETE markers: "
        "classify each entity as never_deleted, purgeable_tombstone (its "
        "latest DELETE is the final word — safe to drop the tombstone "
        "after the retention window) or resurrected (a later ADD/UPDATE "
        "landed after the DELETE, so the tombstone must NOT purge or the "
        "resurrection replays wrong). One entity_id aggregation computing "
        "per-key last-op positions as conditional MAXes (no window sort "
        "needed), then a 3-row rollup. Extends the reference's DELETE "
        "semantics (Operation.java:6-10, WalConsumerTest.java:96-101 "
        "verifies deletes apply) with the retention decision the "
        "reference leaves to the target store. Scale: narrow (entity_id, "
        "id, op) frame, one shuffle.",
)
def cdc_tombstone_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    per_key = wal.groupBy("entity_id").agg(
        F.max(F.when(F.col("operation") == "DELETE", F.col("id"))).alias(
            "last_delete_id"
        ),
        F.max(F.when(F.col("operation") != "DELETE", F.col("id"))).alias(
            "last_write_id"
        ),
        F.sum(F.when(F.col("operation") == "DELETE", 1).otherwise(0))
        .cast("long")
        .alias("n_deletes"),
    )
    state = (
        F.when(F.col("last_delete_id").isNull(), "never_deleted")
        .when(
            F.col("last_write_id").isNull()
            | (F.col("last_write_id") < F.col("last_delete_id")),
            "purgeable_tombstone",
        )
        .otherwise("resurrected")
    )
    return per_key.groupBy(state.alias("tombstone_state")).agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum("n_deletes").cast("long").alias("n_delete_ops"),
    )


@register(
    "dq_freshness_lag",
    oracle="""
    WITH t AS (
        SELECT event_type, MAX(CAST(ts AS TIMESTAMP)) AS max_ts
        FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(max_ts) AS global_max FROM t)
    SELECT t.event_type, t.max_ts,
           (epoch_us(g.global_max) - epoch_us(t.max_ts)) // 60000000
               AS lag_minutes,
           CASE
               WHEN (epoch_us(g.global_max) - epoch_us(t.max_ts)) // 60000000
                    < 60 THEN 'fresh'
               WHEN (epoch_us(g.global_max) - epoch_us(t.max_ts)) // 60000000
                    < 1440 THEN 'lagging'
               ELSE 'stale'
           END AS freshness
    FROM t CROSS JOIN g
    """,
    doc="Per-stream freshness audit (the ops-dashboard query behind every "
        "data-SLA alert): latest event time per type, its lag in whole "
        "minutes behind the freshest stream, and a fresh/lagging/stale "
        "classification. One map-side-combinable MAX pass over the corpus; "
        "the lag arithmetic runs on the bounded per-type table with the "
        "global max as a 1-row broadcast scalar (no driver collect). Lag is "
        "computed as floored exact epoch-MICROsecond difference in BOTH "
        "engines — deliberately avoiding engine-specific 'minute "
        "difference' boundary-crossing semantics and the second-epoch "
        "round-vs-truncate divergence. Batch analog of the reference's "
        "backlog/staleness gauges (WalConsumer.java:78-96): where the "
        "reference reports one scalar for one WAL, this reports the full "
        "per-stream freshness surface.",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t = e.groupBy("event_type").agg(F.max("ts").alias("max_ts"))
    g = t.agg(F.max("max_ts").alias("global_max"))
    lag_min = (
        (F.unix_micros("global_max") - F.unix_micros("max_ts")) / 60_000_000
    ).cast("long")
    # exact microsecond diff (epoch_us both engines — second-granularity
    # epoch() rounds in DuckDB but truncates in Spark); diffs are
    # non-negative here, so int cast == floor-div
    return (
        t.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "max_ts",
            lag_min.alias("lag_minutes"),
            F.when(lag_min < 60, "fresh")
            .when(lag_min < 1440, "lagging")
            .otherwise("stale")
            .alias("freshness"),
        )
    )


@register(
    "dq_reconcile_totals",
    oracle="""
    WITH lg AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS gross_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS order_cents,
               COALESCE(lg.gross_cents, 0) AS line_cents
        FROM orders o LEFT JOIN lg ON o.o_orderkey = lg.l_orderkey
    )
    SELECT CASE WHEN line_cents = 0 THEN 'no_lines'
                WHEN order_cents = line_cents THEN 'exact'
                WHEN abs(order_cents - line_cents) * 100 <= order_cents
                    THEN 'within_1pct'
                ELSE 'mismatch' END AS recon_class,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(abs(order_cents - line_cents)) AS BIGINT) AS max_abs_diff_cents
    FROM j GROUP BY 1
    """,
    doc="Cross-table totals reconciliation (the finance-closing audit "
        "every warehouse runs: does the order header total equal the sum "
        "of its lines?): per-order line totals in exact integer cents, one "
        "header LEFT JOIN, classify exact / within-1% / mismatch / "
        "no-lines with integer-only arithmetic (the 1% gate is "
        "cross-multiplied, not divided — no float anywhere). One narrow "
        "orderkey shuffle; headers join on the already-partitioned key; "
        "output is 4 classes. The DQ complement of dq_constraint_checks' "
        "row-level rules: this one certifies AGGREGATE consistency between "
        "fact tables. Reference parity: extension surface (SURVEY.md §2.B "
        "DQ rows).",
)
def dq_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lg = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("gross_cents")
    )
    j = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("order_cents"),
    ).join(lg, o.o_orderkey == lg.l_orderkey, "left").select(
        "o_orderkey",
        "order_cents",
        F.coalesce(F.col("gross_cents"), F.lit(0).cast("long")).alias(
            "line_cents"
        ),
    )
    diff = F.abs(F.col("order_cents") - F.col("line_cents"))
    cls = (
        F.when(F.col("line_cents") == 0, "no_lines")
        .when(F.col("order_cents") == F.col("line_cents"), "exact")
        .when(diff * 100 <= F.col("order_cents"), "within_1pct")
        .otherwise("mismatch")
    )
    return j.groupBy(cls.alias("recon_class")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max(diff).cast("long").alias("max_abs_diff_cents"),
    )


@register(
    "cdc_ops_per_entity_histogram",
    oracle="""
    WITH wal AS ({WAL_SQL}),
    per AS (
        SELECT entity_id,
               CAST(COUNT(*) AS BIGINT) AS n_ops,
               CAST(count_if(operation = 'DELETE') AS BIGINT) AS n_tombstones
        FROM wal GROUP BY entity_id
    )
    SELECT LEAST(n_tombstones, 8) AS tombstone_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(n_ops) AS BIGINT) AS total_ops,
           CAST(MIN(n_ops) AS BIGINT) AS min_ops,
           CAST(MAX(n_ops) AS BIGINT) AS max_ops
    FROM per GROUP BY LEAST(n_tombstones, 8)
    """.format(WAL_SQL=WAL_SQL),
    doc="Per-entity op-mix histogram over the WAL — the snapshot-cadence / "
        "compaction planning profile for event-sourced targets: entities "
        "bucketed by tombstone (DELETE) count with an open last bucket, "
        "with per-bucket op totals (churn-heavy keys replay slowly from "
        "op 0 and are the first candidates for periodic state snapshots; "
        "the same skew profile sizes per-key state in the streaming "
        "apply). One entity_id aggregation, then a <=9-group rollup — "
        "map-side combinable end to end. Complements "
        "cdc_tombstone_retention: that classifies WHICH tombstones are "
        "purgeable, this sizes HOW MUCH compaction each key class needs.",
)
def cdc_ops_per_entity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    per = wal.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.count_if(F.col("operation") == "DELETE").alias("n_tombstones"),
    )
    bucket = F.least(F.col("n_tombstones"), F.lit(8).cast("long"))
    return per.groupBy(bucket.alias("tombstone_bucket")).agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.sum("n_ops").cast("long").alias("total_ops"),
        F.min("n_ops").cast("long").alias("min_ops"),
        F.max("n_ops").cast("long").alias("max_ops"),
    )


@register(
    "dq_outlier_iqr",
    oracle="""
    WITH rows_ AS (
        SELECT event_type AS prio,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, user_id
    ),
    by_val AS (
        SELECT prio, cents, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM rows_ GROUP BY prio, cents
    ),
    cum AS (
        SELECT prio, cents, cnt,
               SUM(cnt) OVER (PARTITION BY prio ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER (PARTITION BY prio) AS n
        FROM by_val
    ),
    qs AS (
        SELECT prio,
               CAST(MAX(n) AS BIGINT) AS n_entities,
               CAST(MAX(CASE WHEN greatest((n * 25) // 100, 1)
                                  > cum - cnt
                              AND greatest((n * 25) // 100, 1) <= cum
                             THEN cents END) AS BIGINT) AS q1_cents,
               CAST(MAX(CASE WHEN greatest((n * 75) // 100, 1)
                                  > cum - cnt
                              AND greatest((n * 75) // 100, 1) <= cum
                             THEN cents END) AS BIGINT) AS q3_cents
        FROM cum GROUP BY prio
    )
    SELECT q.prio, q.n_entities, q.q1_cents, q.q3_cents,
           CAST(COALESCE(SUM(CASE WHEN 2 * r.cents < 5 * q.q1_cents
                                       - 3 * q.q3_cents
                                    OR 2 * r.cents > 5 * q.q3_cents
                                       - 3 * q.q1_cents
                                  THEN 1 END), 0) AS BIGINT) AS n_outliers
    FROM qs q JOIN rows_ r ON r.prio = q.prio
    GROUP BY q.prio, q.n_entities, q.q1_cents, q.q3_cents
    """,
    doc="Per-group IQR (Tukey-fence) outlier audit — the box-plot DQ rule: "
        "per-user value totals outside [q1 - 1.5*IQR, q3 + 1.5*IQR] "
        "within each event type (per-entity rollups are where real "
        "pipelines grow tails; raw TPC-H prices are uniform and fence "
        "nothing). "
        "Quartiles are rank-picked from per-group cumulative counts over "
        "the DISTINCT-value aggregate (partitioned windows — never a "
        "global sort; the same cumulative-containment recipe as "
        "operators/selection.py, here per key). The 1.5x fences are kept "
        "INTEGRAL by comparing doubled values against 5*q1-3*q3 / "
        "5*q3-3*q1 — zero floats anywhere in the query, so there is no "
        "engine boundary to disagree on. The outlier count joins the "
        "5-row fence table broadcast back onto the rows. Complements "
        "ts_anomaly_mad (median-based) and win_zscore_outliers "
        "(moment-based) with the quartile-based family member. "
        "Reference parity: extension surface (SURVEY.md §2.B DQ rows).",
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    rows = e.groupBy(
        F.col("event_type").alias("prio"), "user_id"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    ).select("prio", "cents")
    by_val = rows.groupBy("prio", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wc = (
        Window.partitionBy("prio")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("prio")
    cum = by_val.select(
        "prio",
        "cents",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )

    def pick(q: int) -> F.Column:
        r = F.greatest(
            F.expr(f"(n * {q}) div 100"), F.lit(1).cast("long")
        )
        return F.max(
            F.when(
                (r > F.col("cum") - F.col("cnt")) & (r <= F.col("cum")),
                F.col("cents"),
            )
        ).cast("long")

    qs = cum.groupBy("prio").agg(
        F.max("n").cast("long").alias("n_entities"),
        pick(25).alias("q1_cents"),
        pick(75).alias("q3_cents"),
    )
    joined = rows.join(F.broadcast(qs), "prio")
    is_out = (
        2 * F.col("cents") < 5 * F.col("q1_cents") - 3 * F.col("q3_cents")
    ) | (2 * F.col("cents") > 5 * F.col("q3_cents") - 3 * F.col("q1_cents"))
    return joined.groupBy("prio", "n_entities", "q1_cents", "q3_cents").agg(
        F.coalesce(F.sum(F.when(is_out, 1)), F.lit(0))
        .cast("long")
        .alias("n_outliers")
    )


@register(
    "dq_functional_dependency",
    oracle="""
    WITH fd1 AS (
        SELECT o_orderkey AS det, o_custkey AS dep FROM orders
    ),
    fd2 AS (
        SELECT o_custkey AS det, o_orderpriority AS dep FROM orders
    ),
    fd3 AS (
        SELECT o_custkey AS det, o_orderstatus AS dep FROM orders
    ),
    a1 AS (
        SELECT det, COUNT(DISTINCT dep) AS ndep FROM fd1 GROUP BY det
    ),
    a2 AS (
        SELECT det, COUNT(DISTINCT dep) AS ndep FROM fd2 GROUP BY det
    ),
    a3 AS (
        SELECT det, COUNT(DISTINCT dep) AS ndep FROM fd3 GROUP BY det
    )
    SELECT 'o_orderkey->o_custkey' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(count_if(ndep > 1) AS BIGINT) AS n_violating_keys,
           CAST(MAX(ndep) AS BIGINT) AS max_distinct_dependents
    FROM a1
    UNION ALL
    SELECT 'o_custkey->o_orderpriority',
           CAST(COUNT(*) AS BIGINT), CAST(count_if(ndep > 1) AS BIGINT),
           CAST(MAX(ndep) AS BIGINT)
    FROM a2
    UNION ALL
    SELECT 'o_custkey->o_orderstatus',
           CAST(COUNT(*) AS BIGINT), CAST(count_if(ndep > 1) AS BIGINT),
           CAST(MAX(ndep) AS BIGINT)
    FROM a3
    """,
    doc="Functional-dependency audit — the schema-discovery/denormal-"
        "ization-integrity DQ primitive (does X really determine Y?): "
        "for each candidate FD, group by the determinant, count distinct "
        "dependents, report violating-key counts and the worst fan-out. "
        "Audits one true FD (the PK: o_orderkey->o_custkey, must show "
        "zero violations), one false one (o_custkey->o_orderpriority — "
        "customers reorder at different priorities), and one "
        "low-cardinality one (o_custkey->o_orderstatus, 3-value domain "
        "caps the fan-out) so different severity shapes are certified. Each audit is one narrow groupBy + a 1-row "
        "rollup; k audited FDs = k independent map-side-combinable "
        "passes (at 100 TB: share one shuffle per distinct determinant "
        "column). Complements dq_constraint_checks (PK/FK/domain) with "
        "the inter-column dependency axis. Reference parity: extension "
        "surface (SURVEY.md §2.B DQ rows).",
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def audit(det: str, dep: str) -> DataFrame:
        g = o.groupBy(F.col(det).alias("det")).agg(
            F.countDistinct(dep).alias("ndep")
        )
        return g.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.count_if(F.col("ndep") > 1).cast("long").alias(
                "n_violating_keys"
            ),
            F.max("ndep").cast("long").alias("max_distinct_dependents"),
        ).select(F.lit(f"{det}->{dep}").alias("fd"), "*")

    return (
        audit("o_orderkey", "o_custkey")
        .unionByName(audit("o_custkey", "o_orderpriority"))
        .unionByName(audit("o_custkey", "o_orderstatus"))
    )


@register(
    "dq_psi_drift",
    oracle="""
    WITH half AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey,
               CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)
                   >= DATE '1998-01-01' AS is_recent
        FROM orders
    ),
    base AS (SELECT cents, o_orderkey FROM half WHERE NOT is_recent),
    edges AS (
        SELECT CAST(MAX(CASE WHEN rn = (n * d) // 10 THEN cents END)
                    AS BIGINT) AS edge, d
        FROM (SELECT cents,
                     row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
                     COUNT(*) OVER () AS n
              FROM base),
             UNNEST(generate_series(1, 9)) AS u(d)
        GROUP BY d
    ),
    bucketed AS (
        SELECT h.is_recent,
               CAST(COALESCE(SUM(CASE WHEN h.cents > e.edge THEN 1 END), 0)
                    AS BIGINT) AS bucket
        FROM half h LEFT JOIN edges e ON TRUE
        GROUP BY h.is_recent, h.cents, h.o_orderkey
    ),
    counts AS (
        SELECT bucket,
               CAST(count_if(NOT is_recent) AS BIGINT) AS n_base,
               CAST(count_if(is_recent) AS BIGINT) AS n_recent
        FROM bucketed GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(n_base) AS DOUBLE) AS tb,
               CAST(SUM(n_recent) AS DOUBLE) AS tr
        FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           round(CAST(SUM(CAST(round(
                     (n_base / t.tb - n_recent / t.tr)
                     * ln((n_base / t.tb) / (n_recent / t.tr))
                     * 1000000000) AS BIGINT)) AS DOUBLE)
                 / 1000000000, 6) AS psi
    FROM counts CROSS JOIN tot t
    WHERE n_base > 0 AND n_recent > 0
    """,
    doc="Population-stability-index drift audit (the ML-ops metric gating "
        "model retrains: PSI > 0.2 between the training-era and recent "
        "value distributions means the feature drifted): decile edges are "
        "rank-picked from the pre-1998 baseline (deterministic orderkey "
        "tie-break), every order is bucketed by counting edges below it "
        "(a 9-row broadcast join — no per-row binary search), and PSI "
        "sums (p-q)*ln(p/q) per bucket with the engine's 1e-9 "
        "quantization (ln is the one non-IEEE-pinned op; its inputs are "
        "identical doubles from exact counts). Corpus work: one scan + "
        "the baseline rank; the PSI arithmetic runs on <=10 rows. "
        "Reference parity: extension surface (SURVEY.md §2.B DQ rows).",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    half = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
        (F.to_date("o_orderdate") >= F.lit("1998-01-01").cast("date")).alias(
            "is_recent"
        ),
    )
    base = half.where(~F.col("is_recent"))
    # Rank-picked decile edges WITHOUT a per-row global row_number: the
    # value at global rank r (ordered by cents, orderkey) is exactly the
    # cents group whose cumulative-count range [cum-cnt+1, cum] contains r
    # — the orderkey tie-break never changes the picked VALUE. So the
    # global window runs over the DISTINCT-cents aggregate (bounded by the
    # value domain), not the raw order rows; identical result, identical
    # oracle.
    by_val = base.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = by_val.select(
        "cents",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    rank_d = F.expr("(n * d) div 10")
    edges = (
        cum.crossJoin(F.broadcast(deciles))
        .where((rank_d > F.col("cum") - F.col("cnt")) & (rank_d <= F.col("cum")))
        .groupBy("d")
        .agg(F.max("cents").cast("long").alias("edge"))
    )
    bucketed = (
        half.crossJoin(F.broadcast(edges))
        .groupBy("is_recent", "cents", "o_orderkey")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cents") > F.col("edge"), 1)), F.lit(0)
            )
            .cast("long")
            .alias("bucket")
        )
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count_if(~F.col("is_recent")).alias("n_base"),
        F.count_if(F.col("is_recent")).alias("n_recent"),
    )
    tot = counts.agg(
        F.sum("n_base").cast("double").alias("tb"),
        F.sum("n_recent").cast("double").alias("tr"),
    )
    p = F.col("n_base") / F.col("tb")
    q = F.col("n_recent") / F.col("tr")
    term = F.round((p - q) * F.log(p / q) * 1_000_000_000).cast("long")
    return (
        counts.crossJoin(F.broadcast(tot))
        .where((F.col("n_base") > 0) & (F.col("n_recent") > 0))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(F.sum(term).cast("double") / 1_000_000_000, 6).alias(
                "psi"
            ),
        )
    )


@register(
    "dq_scd2_interval_audit",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    v AS (
        SELECT entity_id, id AS valid_from, operation,
               lead(id) OVER (PARTITION BY entity_id ORDER BY id) AS valid_to
        FROM wal
    ),
    versions AS (
        SELECT entity_id, valid_from, valid_to
        FROM v WHERE operation <> 'DELETE'
    ),
    seq AS (
        SELECT entity_id, valid_from, valid_to,
               lag(valid_to) OVER (PARTITION BY entity_id
                                   ORDER BY valid_from) AS prev_to
        FROM versions
    )
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(count_if(valid_to IS NOT NULL
                         AND valid_to <= valid_from) AS BIGINT)
               AS n_inverted,
           CAST(count_if(prev_to IS NOT NULL
                         AND valid_from < prev_to) AS BIGINT) AS n_overlaps,
           CAST(count_if(prev_to IS NOT NULL
                         AND valid_from > prev_to) AS BIGINT) AS n_gaps,
           CAST(count_if(valid_to IS NULL) AS BIGINT) AS n_open
    FROM seq GROUP BY entity_id
    HAVING count_if(prev_to IS NOT NULL AND valid_from > prev_to) > 0
        OR COUNT(*) > 25
    """,
    doc="SCD2 validity-interval audit — the DQ gate every slowly-changing "
        "dimension needs after a build or a merge: per entity, inverted "
        "intervals (valid_to <= valid_from), OVERLAPS between consecutive "
        "versions (two truths at one time — corrupts every temporal "
        "join), GAPS (a DELETE legitimately opens one — the count "
        "separates tombstone gaps from lost versions) and dangling open "
        "versions. One entity-partitioned window pass over the version "
        "table (the same shuffle the SCD2 build itself uses — at 100 TB "
        "the audit co-rides the build). Output keeps gap-bearing or "
        "high-churn entities so the result is non-vacuous on the "
        "driver corpus (DELETEs create real gaps). Companion to "
        "cdc_scd2_history and cdc_temporal_join.",
)
def dq_scd2_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    w = Window.partitionBy("entity_id").orderBy("id")
    versions = (
        wal.select(
            "entity_id",
            F.col("id").alias("valid_from"),
            "operation",
            F.lead("id").over(w).alias("valid_to"),
        )
        .filter(F.col("operation") != "DELETE")
        .select("entity_id", "valid_from", "valid_to")
    )
    ws = Window.partitionBy("entity_id").orderBy("valid_from")
    seq = versions.withColumn("prev_to", F.lag("valid_to").over(ws))
    out = seq.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.count_if(
            F.col("valid_to").isNotNull()
            & (F.col("valid_to") <= F.col("valid_from"))
        ).alias("n_inverted"),
        F.count_if(
            F.col("prev_to").isNotNull()
            & (F.col("valid_from") < F.col("prev_to"))
        ).alias("n_overlaps"),
        F.count_if(
            F.col("prev_to").isNotNull()
            & (F.col("valid_from") > F.col("prev_to"))
        ).alias("n_gaps"),
        F.count_if(F.col("valid_to").isNull()).alias("n_open"),
    )
    return out.where((F.col("n_gaps") > 0) | (F.col("n_versions") > 25))


@register(
    "cdc_gdpr_erasure_audit",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY entity_id
                                         ORDER BY id DESC) AS rn
            FROM wal) WHERE rn = 1
    ),
    erased AS (SELECT entity_id FROM last WHERE operation = 'DELETE'),
    state AS (SELECT entity_id FROM last WHERE operation <> 'DELETE'),
    residual AS (
        SELECT e.entity_id FROM erased e JOIN state s USING (entity_id)
    ),
    history AS (
        SELECT w.entity_id, CAST(COUNT(*) AS BIGINT) AS n_history_rows
        FROM wal w JOIN erased e USING (entity_id)
        GROUP BY w.entity_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_erasure_requests,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM residual)
               AS n_residual_in_state,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM history)
               AS n_entities_with_history,
           (SELECT CAST(COALESCE(SUM(n_history_rows), 0) AS BIGINT)
            FROM history) AS n_history_rows_to_purge
    """,
    doc="GDPR / right-to-be-forgotten erasure audit: entities whose final "
        "WAL op is DELETE are erasure requests; the audit proves the "
        "applied state holds NO residual row for any of them (the "
        "semi-join count must be zero — a nonzero value is a compliance "
        "incident) and sizes the WAL-history purge the retention job "
        "still owes (every historical op of an erased entity, the part "
        "checkpoint-based CDC keeps after the state forgets — "
        "cdc_tombstone_retention decides WHEN those tombstones can go, "
        "this counts WHAT must go). One last-op window pass + two "
        "narrow entity-keyed joins; all four outputs are broadcast-sized "
        "scalars. Reference parity: R6-R8 DELETE semantics "
        "(WalConsumerTest.java:114-116) elevated to the audit a real "
        "deployment runs.",
)
def cdc_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    last = last_op_per_key(wal).localCheckpoint(eager=True)
    erased = last.where(F.col("operation") == "DELETE").select("entity_id")
    state = last.where(F.col("operation") != "DELETE").select("entity_id")
    residual = erased.join(state, "entity_id")
    history = (
        wal.join(maybe_broadcast(erased), "entity_id")
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n_history_rows"))
    )
    a = erased.agg(F.count(F.lit(1)).cast("long").alias("n_erasure_requests"))
    b = residual.agg(
        F.count(F.lit(1)).cast("long").alias("n_residual_in_state")
    )
    c = history.agg(
        F.count(F.lit(1)).cast("long").alias("n_entities_with_history"),
        F.coalesce(F.sum("n_history_rows"), F.lit(0))
        .cast("long")
        .alias("n_history_rows_to_purge"),
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .select(
            "n_erasure_requests",
            "n_residual_in_state",
            "n_entities_with_history",
            "n_history_rows_to_purge",
        )
    )


@register(
    "dq_join_cardinality_forecast",
    oracle="""
    WITH joined AS (
        SELECT o.o_orderkey AS k
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    per_key AS (SELECT k, COUNT(*) AS c FROM joined GROUP BY k)
    SELECT CAST(SUM(c) AS BIGINT) AS est_join_rows,
           CAST(MAX(c) AS BIGINT) AS max_key_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_matching_keys
    FROM per_key
    """,
    doc="Pre-flight join-size forecast WITHOUT executing the join: for an "
        "equi-join, output rows = sum over keys of count_left(k) * "
        "count_right(k) — an exact identity, not an estimate — so two "
        "narrow per-key COUNT aggregates plus a key-only join of the "
        "count tables predict the cost of a 100 TB fact-fact join "
        "before a single wide row is shuffled. max_key_pairs is the "
        "skew certificate (the largest single-key blowup — the row "
        "count AQE's skew-join would have to split), n_matching_keys "
        "the join selectivity. The ORACLE runs the REAL join and "
        "measures it, so the driver hash certifies the identity "
        "end-to-end. Shuffle cost: two (key,count) aggregates + a "
        "count-table equi-join — key-cardinality-sized, never "
        "fact-sized.",
)
def dq_join_cardinality_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ca = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    per_key = ca.join(cb, "k").select(
        "k", (F.col("ca") * F.col("cb")).alias("pairs")
    )
    return per_key.agg(
        F.sum("pairs").cast("long").alias("est_join_rows"),
        F.max("pairs").cast("long").alias("max_key_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_matching_keys"),
    )


@register(
    "dq_decimal_overflow_headroom",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(abs(CAST(round(l_extendedprice * 100) AS BIGINT)))
                AS BIGINT) AS max_abs_cents,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           (log10(CAST(COUNT(*) AS DOUBLE))
              + log10(CAST(MAX(abs(CAST(round(l_extendedprice * 100) AS BIGINT)))
                           AS DOUBLE)) < 27.0) AS sum_digits_safe
    FROM lineitem
    """,
    doc="Aggregation-overflow headroom audit for the engine's own "
        "exact-decimal summation convention: one pass computes row count, "
        "the worst single-row magnitude, the exact total, and an in-plan "
        "certificate that log10(n_rows) + log10(max_abs) stays under the "
        "27 digits a Spark SUM(DECIMAL(18,0)) accumulator guarantees "
        "(Spark widens sums to DECIMAL(p+10); DuckDB to DECIMAL(38)) — "
        "i.e. even the impossible all-rows-at-max corpus cannot overflow. "
        "At 100 TB this is the pre-flight a pipeline runs before trusting "
        "fixed-precision rollups: n ~ 6e11 rows x max ~ 1e7 cents is "
        "~10^18.8, inside the 10^27 accumulator with 8 orders of "
        "headroom but OUTSIDE a naive 18-digit sum — exactly the class "
        "of silent-at-test-scale overflow this catches. Single narrow "
        "aggregate, no shuffle beyond the 1-row reduce; the margin is "
        "~13 orders of magnitude so the transcendental log10 can never "
        "flip the boolean across engines.",
)
def dq_decimal_overflow_headroom(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max(F.abs(cents)).cast("long").alias("max_abs_cents"),
        F.sum(cents).cast("long").alias("total_cents"),
        (
            F.log10(F.count(F.lit(1)).cast("double"))
            + F.log10(F.max(F.abs(cents)).cast("double"))
            < F.lit(27.0)
        ).alias("sum_digits_safe"),
    )


@register(
    "dq_ks_two_sample",
    oracle="""
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               CASE WHEN CAST(o_orderdate AS TIMESTAMP)
                         < TIMESTAMP '1998-04-01 00:00:00'
                    THEN 1 ELSE 0 END AS s1
        FROM orders
    ),
    byv AS (
        SELECT c, CAST(SUM(s1) AS BIGINT) AS c1,
               CAST(SUM(1 - s1) AS BIGINT) AS c2
        FROM v GROUP BY c
    ),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2 FROM byv),
    cum AS (
        SELECT SUM(c1) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS k1,
               SUM(c2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS k2
        FROM byv
    ),
    d AS (
        SELECT MAX(abs(CAST(cum.k1 AS DECIMAL(38,0)) * tot.n2
                       - CAST(cum.k2 AS DECIMAL(38,0)) * tot.n1)) AS dm
        FROM cum CROSS JOIN tot
    )
    SELECT tot.n1 AS n1, tot.n2 AS n2,
           round(CAST(d.dm AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)), 6)
               AS d_stat,
           round(1.358 * sqrt((CAST(tot.n1 AS DOUBLE)
                               + CAST(tot.n2 AS DOUBLE))
                              / (CAST(tot.n1 AS DOUBLE)
                                 * CAST(tot.n2 AS DOUBLE))), 6) AS ks_crit,
           round(CAST(d.dm AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)), 6)
           > round(1.358 * sqrt((CAST(tot.n1 AS DOUBLE)
                                 + CAST(tot.n2 AS DOUBLE))
                                / (CAST(tot.n1 AS DOUBLE)
                                   * CAST(tot.n2 AS DOUBLE))), 6)
               AS drift_detected
    FROM d CROSS JOIN tot
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test (early vs late order "
        "values, cut 1998-04-01) — the nonparametric whole-distribution "
        "companion to dq_psi_drift's binned divergence: D = "
        "max |F1 - F2| over the pooled value domain, computed EXACTLY "
        "as max |k1*n2 - k2*n1| in DECIMAL(38) integers (no float until "
        "the final 1-row division; overflow-safe past 1e9-row sides). "
        "The cumulative CDFs ride the engine's two-level bucketed "
        "substrate (operators/selection.py shape): intra-bucket windows "
        "partitioned by cents div 10000 are bounded by BUCKET WIDTH, "
        "the bucket-offset window by the price domain — never an "
        "entity-scaled global sort (the ORACLE keeps the naive single "
        "global cumulative). alpha=0.05 rejection via the 1.358 "
        "large-sample coefficient, compared on 1e-6-rounded values so "
        "both engines decide identically.",
)
def dq_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    byv = (
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
            F.when(
                F.col("o_orderdate")
                < F.lit("1998-04-01 00:00:00").cast("timestamp"),
                1,
            )
            .otherwise(0)
            .alias("s1"),
        )
        .groupBy("c")
        .agg(
            F.sum("s1").cast("long").alias("c1"),
            F.sum(1 - F.col("s1")).cast("long").alias("c2"),
        )
        .withColumn("bk", F.expr("c div 10000"))
        .localCheckpoint(eager=True)  # totals + bucket table + intra-bucket
    )
    tot = byv.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    wloc = (
        Window.partitionBy("bk")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = byv.select(
        "c",
        "bk",
        F.sum("c1").over(wloc).alias("l1"),
        F.sum("c2").over(wloc).alias("l2"),
    )
    wcum = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    cumb = (
        byv.groupBy("bk")
        .agg(
            F.sum("c1").alias("b1"),
            F.sum("c2").alias("b2"),
        )
        .select(
            "bk",
            F.coalesce(F.sum("b1").over(wcum), F.lit(0)).alias("off1"),
            F.coalesce(F.sum("b2").over(wcum), F.lit(0)).alias("off2"),
        )
    )
    cum = loc.join(cumb, "bk").select(
        (F.col("off1") + F.col("l1")).alias("k1"),
        (F.col("off2") + F.col("l2")).alias("k2"),
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(
                F.col("k1").cast("decimal(38,0)") * F.col("n2")
                - F.col("k2").cast("decimal(38,0)") * F.col("n1")
            )
        ).alias("dm")
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d_stat = F.round(F.col("dm").cast("double") / (n1d * n2d), 6)
    crit = F.round(1.358 * F.sqrt((n1d + n2d) / (n1d * n2d)), 6)
    return d.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        d_stat.alias("d_stat"),
        crit.alias("ks_crit"),
        (d_stat > crit).alias("drift_detected"),
    )


#: (edge name, child table, child FK col, parent table, parent PK col) —
#: the declared referential edges of the star schema plus the
#: deliberately-unconstrained events->supplier probe (events user ids are
#: NOT supplier keys, so the audit demonstrably reports real orphans
#: rather than a vacuous all-zero table on clean TPC-H data).
_REF_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("events.user_id->supplier", "events", "user_id", "supplier", "s_suppkey"),
]


def _ref_audit_sql() -> str:
    parts = []
    for name, child, fk, parent, pk in _REF_EDGES:
        parts.append(f"""
    SELECT '{name}' AS edge,
           CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS child_rows,
           CAST((SELECT COUNT(DISTINCT {fk}) FROM {child}) AS BIGINT)
               AS distinct_fk_keys,
           CAST((SELECT COUNT(*) FROM {child} c
                 WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pk} = c.{fk})) AS BIGINT)
               AS orphan_rows,
           round((SELECT COUNT(*) FROM {child} c
                  WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                    WHERE p.{pk} = c.{fk}))
                 / CAST((SELECT COUNT(*) FROM {child}) AS DOUBLE), 6)
               AS orphan_rate,
           CAST((SELECT COUNT(*) FROM (
                     SELECT {pk} FROM {parent} GROUP BY {pk}
                     HAVING COUNT(*) > 1)) AS BIGINT) AS dup_parent_keys""")
    return "\n    UNION ALL".join(parts)


@register(
    "dq_referential_integrity_audit",
    oracle=_ref_audit_sql(),
    doc="Referential-integrity audit across the schema's declared FK "
        "edges in one result table: per edge, child cardinality, "
        "distinct FK keys, orphan rows (children whose key has no "
        "parent — a LEFT ANTI join), orphan rate, and duplicate-PK "
        "count on the parent — the cross-table counterpart of the "
        "single-table dq_constraint checks, and the first thing a "
        "migration/backfill validation runs. The events->supplier probe "
        "edge is deliberately unconstrained so the audit provably "
        "reports non-zero orphans on this data. Scale: each edge is a "
        "distinct-key anti-join (narrow key columns, broadcastable "
        "parent key sets for dimension tables) plus count aggregates; "
        "edges are independent and union at the end — no cross-edge "
        "shuffle. Reference parity: the reference trusts its single "
        "walTable's FK-free schema (SURVEY.md §2.A); extension surface.",
)
def dq_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.3 aggregate-before-shuffle / §3.2 reduce the big side):
    # each edge previously scanned the child TWICE (count+count_distinct
    # aggregate, then a row-level anti-join that shuffled every child row
    # by the FK) — with lineitem appearing in two edges that was 4 full
    # fact scans. Now the child collapses to per-FK-key counts in ONE
    # map-side-combined pass, the existence probe left-joins the DISTINCT
    # key table against the parent's key counts (key-domain-sized, never
    # row-sized), and child_rows / distinct_fk_keys / orphan_rows all fall
    # out of one aggregate over that join. Semantics identical: NULL FKs
    # never match the join (orphans, exactly like NOT EXISTS), and
    # count(k) skips the NULL group exactly like COUNT(DISTINCT fk).
    out = None
    for name, child, fk, parent, pk in _REF_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        ck = c.groupBy(F.col(fk).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        pkc = p.groupBy(F.col(pk).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("pn")
        )
        # FULL outer so parent-only keys flow into the same single
        # aggregate that folds child stats (dup_parent_keys must count
        # parents no child references); both sides are already
        # partitioned by k from their groupBys, so the join adds zero
        # exchanges. NULL keys never match (both engines' equi-join
        # rule): a NULL-FK group keeps pn NULL -> orphan, exactly NOT
        # EXISTS; count(CASE cnt...k) skips it like COUNT(DISTINCT fk).
        j = ck.join(pkc, "k", "full")
        row = j.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("child_rows"),
            F.count(F.when(F.col("cnt").isNotNull(), F.col("k")))
            .cast("long")
            .alias("distinct_fk_keys"),
            F.coalesce(
                F.sum(F.when(F.col("pn").isNull(), F.col("cnt"))), F.lit(0)
            ).cast("long").alias("orphan_rows"),
            F.count_if(F.col("pn") > 1).cast("long").alias("dup_parent_keys"),
        ).select(
            F.lit(name).alias("edge"),
            "child_rows",
            "distinct_fk_keys",
            "orphan_rows",
            F.round(
                F.col("orphan_rows") / F.col("child_rows").cast("double"), 6
            ).alias("orphan_rate"),
            "dup_parent_keys",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _uniq_profile_sql(col_expr: str, col_name: str) -> str:
    """One column's uniqueness-profile SELECT (DuckDB side)."""
    return f"""
    SELECT '{col_name}' AS col_name, n, n_distinct,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n, 6) AS dup_ratio,
           round(CAST(top1 AS DOUBLE) / n, 6) AS top1_share,
           round(CAST(ent_micro AS DOUBLE) / n / 1000000, 6) AS entropy_nats
    FROM (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS top1,
               CAST(SUM(CAST(round(c * ln(CAST(nn.n AS DOUBLE) / c)
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS ent_micro
        FROM (SELECT {col_expr} AS v, COUNT(*) AS c FROM orders GROUP BY 1) g,
             (SELECT COUNT(*) AS n FROM orders) nn
        GROUP BY nn.n
    )
    """


@register(
    "dq_uniqueness_profile",
    oracle=" UNION ALL ".join(
        _uniq_profile_sql(expr, name)
        for expr, name in [
            ("o_custkey", "o_custkey"),
            ("o_orderstatus", "o_orderstatus"),
            ("o_orderpriority", "o_orderpriority"),
            ("CAST(round(o_totalprice * 100) AS BIGINT)", "o_totalprice"),
            ("epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000",
             "o_orderdate"),
        ]
    ),
    doc="Per-column uniqueness/cardinality profile of orders (key, two "
        "enums, price, date): row count, exact distinct count, "
        "duplication ratio, top-1 value share, and Shannon entropy in "
        "nats (per-group terms c*ln(n/c) quantized to 1e-6 before the "
        "sum — the ln-determinism convention) — the column-profiling "
        "pass that catches silent key collapse, enum drift, and "
        "constant columns before they poison joins or training labels. "
        "Plan: one narrow hash groupBy per profiled column (5 bounded "
        "passes over a projected scan), each collapsed map-side; the "
        "corpus-size scalar joins in as a broadcast 1-row aggregate; "
        "output is exactly 5 rows. Reference parity: extension surface "
        "(SURVEY.md §2.B DQ rows).",
)
def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = {
        "o_custkey": F.col("o_custkey"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "o_totalprice": F.round(F.col("o_totalprice") * 100).cast("long"),
        "o_orderdate": F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ),
    }
    out = None
    for name, expr in cols.items():
        g = o.groupBy(expr.alias("v")).agg(F.count(F.lit(1)).alias("c"))
        nn = o.agg(F.count(F.lit(1)).cast("long").alias("n"))
        ent_term = F.round(
            F.col("c") * F.log(F.col("n").cast("double") / F.col("c"))
            * F.lit(1_000_000)
        ).cast("long")
        prof = (
            g.crossJoin(F.broadcast(nn))
            .agg(
                F.max("n").alias("n"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.max("c").cast("long").alias("top1"),
                F.sum(ent_term).cast("long").alias("ent_micro"),
            )
            .select(
                F.lit(name).alias("col_name"),
                "n",
                "n_distinct",
                F.round(
                    F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n"),
                    6,
                ).alias("dup_ratio"),
                F.round(F.col("top1").cast("double") / F.col("n"), 6)
                .alias("top1_share"),
                F.round(
                    F.col("ent_micro").cast("double") / F.col("n") / F.lit(1_000_000),
                    6,
                ).alias("entropy_nats"),
            )
        )
        out = prof if out is None else out.unionByName(prof)
    return out


def _str_profile_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE {col} IS NULL) AS BIGINT) AS n_null,
           CAST(COUNT(*) FILTER (WHERE {col} IS NOT NULL
                                 AND trim({col}) = '') AS BIGINT)
               AS n_empty_or_ws,
           CAST(COUNT(*) FILTER (WHERE lower(trim({col})) IN
                ('null', 'none', 'n/a', 'na', '-', 'nan')) AS BIGINT)
               AS n_null_like,
           CAST(COUNT(*) FILTER (WHERE regexp_matches({col}, '[0-9]'))
                AS BIGINT) AS n_with_digit,
           CAST(MIN(length({col})) AS BIGINT) AS min_len,
           CAST(MAX(length({col})) AS BIGINT) AS max_len,
           CAST(SUM(CAST(length({col}) AS DECIMAL(38,0))) AS DOUBLE)
               / COUNT(*) AS avg_len
    FROM {table}
    """


@register(
    "dq_string_profile_audit",
    oracle=" UNION ALL ".join(
        _str_profile_sql(t, c)
        for t, c in [
            ("documents", "text"),
            ("documents", "lang"),
            ("documents", "source"),
            ("events", "event_type"),
            ("events", "props"),
        ]
    ),
    doc="String-hygiene audit across the corpus's text columns: NULLs, "
        "empty/whitespace-only values, disguised-null literals ('null', "
        "'N/A', 'nan', ...), digit-bearing values, and length envelope "
        "per column — the ingestion gate that catches the classic "
        "CSV-era rot (empty-string-as-null, placeholder literals) before "
        "it trains or joins as real data; the string-shape companion to "
        "dq_uniqueness_profile's cardinality pass. Plan: ONE conditional "
        "aggregate per column over a projected scan (map-side collapse, "
        "no shuffle wider than 1 row each), 5 output rows; lengths sum "
        "in DECIMAL so avg_len is an exact-sum / count pinned division. "
        "Reference parity: extension surface (SURVEY.md §2.B DQ rows).",
)
def dq_string_profile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_like = ["null", "none", "n/a", "na", "-", "nan"]
    out = None
    for table, col in [
        ("documents", "text"),
        ("documents", "lang"),
        ("documents", "source"),
        ("events", "event_type"),
        ("events", "props"),
    ]:
        t = load_table(spark, sf_dir, table)
        c = F.col(col)
        prof = t.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_if(c.isNull()).cast("long").alias("n_null"),
            F.count_if(c.isNotNull() & (F.trim(c) == "")).cast("long").alias(
                "n_empty_or_ws"
            ),
            F.count_if(F.lower(F.trim(c)).isin(null_like))
            .cast("long")
            .alias("n_null_like"),
            F.count_if(c.rlike("[0-9]")).cast("long").alias("n_with_digit"),
            F.min(F.length(c)).cast("long").alias("min_len"),
            F.max(F.length(c)).cast("long").alias("max_len"),
            (
                F.sum(F.length(c).cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_len"),
        ).select(F.lit(f"{table}.{col}").alias("column_name"), "*")
        out = prof if out is None else out.unionByName(prof)
    return out


#: (table, column, Java-regex/RE2-common-subset pattern) conformance rules;
#: full-match anchored on both engines.
_CONFORMANCE_RULES = [
    ("documents", "lang", "^[a-z]{2}$"),
    ("documents", "source", "^src[0-9]{1,3}$"),
    ("events", "event_type", "^(signup|click|view|purchase|error)$"),
    ("events", "props", "^\\{.*\\}$"),
    ("orders", "o_orderpriority", "^[1-5]-[A-Z]+$"),
]


def _conformance_sql(t: str, c: str, p: str) -> str:
    # DuckDB single-quoted literals are RAW (no backslash processing):
    # only quotes need escaping, and the regex text must stay byte-equal
    # to the Spark-side pattern.
    lit = p.replace("'", "''")
    return f"""
    SELECT '{t}.{c}' AS column_name,
           '{lit}' AS pattern,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE {c} IS NOT NULL
                                 AND regexp_matches({c}, '{lit}'))
                AS BIGINT) AS n_conforming,
           CAST(COUNT(*) FILTER (WHERE {c} IS NULL
                                 OR NOT regexp_matches({c}, '{lit}'))
                AS BIGINT) AS n_violations
    FROM {t}
    """


@register(
    "dq_format_conformance_audit",
    oracle=" UNION ALL ".join(
        _conformance_sql(t, c, p) for t, c, p in _CONFORMANCE_RULES
    ),
    doc="Format-conformance audit: every value of each declared column "
        "must full-match its contract regex (ISO language codes, source "
        "ids, a closed event-type enum, JSON-object-shaped props, TPC-H "
        "priority codes); NULL counts as a violation because the "
        "contract says the value exists. The declarative-expectations "
        "pattern (Deequ/Great-Expectations style) as one engine query. "
        "Patterns are restricted to the Java-regex/RE2 common subset so "
        "both engines match byte-identically. Plan: one conditional "
        "aggregate per rule over a projected scan — map-side collapse, "
        "5 one-row partials, zero wide shuffles at any corpus size. "
        "Reference parity: extension surface (SURVEY.md §2.B DQ rows).",
)
def dq_format_conformance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, col, pat in _CONFORMANCE_RULES:
        t = load_table(spark, sf_dir, table)
        c = F.col(col)
        ok = c.isNotNull() & c.rlike(pat)
        prof = t.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_if(ok).cast("long").alias("n_conforming"),
            F.count_if(~ok | c.isNull()).cast("long").alias("n_violations"),
        ).select(
            F.lit(f"{table}.{col}").alias("column_name"),
            F.lit(pat).alias("pattern"),
            "*",
        )
        out = prof if out is None else out.unionByName(prof)
    return out


def _pow2_case_sql(expr: str, max_k: int = 30) -> str:
    """CASE ladder mapping a non-negative BIGINT to its power-of-two
    bucket floor (0, 1, 2, 4, ... 2^max_k) — log2 without log2, so both
    engines bucket by exact integer comparison instead of a
    transcendental."""
    whens = " ".join(
        f"WHEN {expr} < {1 << (k + 1)} THEN {1 << k}" for k in range(max_k)
    )
    return f"CASE WHEN {expr} < 1 THEN 0 {whens} ELSE {1 << max_k} END"


@register(
    "cdc_entity_update_cadence",
    oracle=f"""
    WITH wal AS (
        SELECT event_id % 500 AS entity_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    per AS (
        SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_ops,
               (MAX(us) - MIN(us)) // (COUNT(*) - 1) // 1000000
                   AS mean_gap_s
        FROM wal GROUP BY entity_id HAVING COUNT(*) >= 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_entities FROM per)
    SELECT CAST({_pow2_case_sql("mean_gap_s")} AS BIGINT) AS gap_bucket_lo_s,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(n_ops) AS BIGINT) AS n_ops,
           round(CAST(COUNT(*) AS DOUBLE) / MAX(tot.n_entities), 6) AS share
    FROM per, tot
    GROUP BY 1
    """,
    doc="Per-entity update-cadence histogram of the WAL: each entity's "
        "mean seconds between consecutive operations ((last - first) / "
        "(n - 1) — exact integer floor arithmetic on epoch micros), "
        "bucketed by powers of two — the hot/warm/cold key profile that "
        "sizes CDC state stores and picks compaction cadence (a key "
        "updating every 2 s and one updating every 2 days need different "
        "retention). The power-of-two bucket is a CASE ladder of integer "
        "comparisons, not log2 (transcendental containment); mean-gap "
        "needs only min/max/count, so the whole profile is ONE narrow "
        "groupBy per entity plus a bounded-bucket rollup — no per-op lag "
        "window, which at 100 TB is the difference between a count-style "
        "shuffle and a full event-time sort. Reference analog: the WAL "
        "entity stream of WalEntity.java:38-39 (extension surface, "
        "SURVEY.md §2.B CDC rows).",
)
def cdc_entity_update_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wal = e.select(
        (F.col("event_id") % 500).alias("entity_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    per = (
        wal.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ops"),
            F.max("us").alias("mx"),
            F.min("us").alias("mn"),
        )
        .where(F.col("n_ops") >= 2)
        .selectExpr(
            "entity_id",
            "n_ops",
            "((mx - mn) div (n_ops - 1)) div 1000000 AS mean_gap_s",
        )
    )
    bucket = F.lit(1 << 30)
    for k in reversed(range(30)):
        bucket = F.when(
            F.col("mean_gap_s") < (1 << (k + 1)), F.lit(1 << k)
        ).otherwise(bucket)
    bucket = F.when(F.col("mean_gap_s") < 1, F.lit(0)).otherwise(bucket)
    tot = per.agg(F.count(F.lit(1)).cast("long").alias("tot_entities"))
    return (
        per.groupBy(bucket.cast("long").alias("gap_bucket_lo_s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum("n_ops").cast("long").alias("n_ops"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "gap_bucket_lo_s",
            "n_entities",
            "n_ops",
            F.round(
                F.col("n_entities").cast("double") / F.col("tot_entities"), 6
            ).alias("share"),
        )
    )


#: Per-entity op-sample cap for the arrival-inversion audit: at most
#: _INV_SAMPLE_K ops per entity (deterministic md5 rank) enter the pair
#: join, bounding it at K*(K-1)/2 pairs per entity no matter how hot the
#: key — the same explicit-cap discipline as max_df / max_bucket /
#: degree-64 (VERDICT r8 "What's wrong" #2: a counter row with 10^6 WAL
#: ops would otherwise contribute 5*10^11 pairs on one key). 16 < the
#: 20 ops/entity at sf0.01, so the DRIVER certifies the capped path, not
#: a vacuous filter.
_INV_SAMPLE_K = 16


@register(
    "cdc_arrival_inversion_audit",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    arr AS (
        SELECT id, entity_id,
               md5(CAST(id AS VARCHAR) || ':arr') AS ak,
               md5(CAST(id AS VARCHAR) || ':samp') AS sk
        FROM wal
    ),
    ranked AS (
        SELECT id, entity_id, ak,
               ROW_NUMBER() OVER (PARTITION BY entity_id
                                  ORDER BY sk, id) AS rn,
               COUNT(*) OVER (PARTITION BY entity_id) AS n_ops
        FROM arr
    ),
    samp AS (SELECT * FROM ranked WHERE rn <= {_INV_SAMPLE_K}),
    per AS (
        SELECT a.entity_id,
               CAST(MAX(a.n_ops) AS BIGINT) AS n_ops,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(count_if(a.id > b.id) AS BIGINT) AS n_inversions
        FROM samp a JOIN samp b
          ON a.entity_id = b.entity_id AND a.ak < b.ak
        GROUP BY a.entity_id
    ),
    ent AS (
        SELECT entity_id, n_ops, n_pairs, n_inversions,
               CAST(CAST(n_inversions AS HUGEINT) * 1000000 // n_pairs
                    AS BIGINT) AS inv_ppm
        FROM per
    )
    SELECT CAST(inv_ppm // 100000 AS BIGINT) AS inv_decile,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(count_if(n_ops > {_INV_SAMPLE_K}) AS BIGINT)
               AS n_entities_capped,
           CAST(SUM(n_inversions) AS BIGINT) AS total_inversions,
           CAST(SUM(n_pairs) AS BIGINT) AS total_pairs,
           CAST(MIN(inv_ppm) AS BIGINT) AS min_inv_ppm,
           CAST(MAX(inv_ppm) AS BIGINT) AS max_inv_ppm
    FROM ent GROUP BY 1
    """,
    doc="WAL arrival-inversion audit: replay the synthetic WAL in a "
        "deterministic adversarially-shuffled arrival order (md5 of id — "
        "the lateness-audit convention; the driver WAL arrives id-sorted, "
        "which would make the audit vacuous) and estimate, per entity, the "
        "Kendall-tau distance between arrival order and commit order "
        "(normalized inverted-pair rate), histogrammed by ppm decile — "
        "the number that sizes an in-order apply's reorder buffer and "
        "decides whether the consumer needs sequencing at all (the "
        "reference consumes strictly in id order, WalConsumer.java:157; "
        "this is the audit you run BEFORE relaxing that). The pair join "
        "is CAPPED, not merely entity-local (VERDICT r8 'What's wrong' "
        "#2): a deterministic md5-ranked sample of at most "
        f"{_INV_SAMPLE_K} ops per entity enters it — the "
        "ts_theil_sen_sampled recipe — so a hot CDC key (a counter row "
        "with 10^6 ops) contributes at most K*(K-1)/2 = 120 pairs "
        "instead of 5*10^11; a uniform op subsample yields an unbiased "
        "U-statistic estimate of the pair-inversion rate, exact whenever "
        "n_ops <= K. The in-plan certificate column n_entities_capped "
        "reports per decile how many entities were estimated rather "
        "than enumerated. The histogram output stays <= 11 rows; "
        "entities with a single op carry no pairs and are excluded by "
        "construction. Reference parity: R2/R5 ordering semantics, "
        "extension surface (SURVEY.md §2.B CDC rows).",
)
def cdc_arrival_inversion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    arr = wal.select(
        "id",
        "entity_id",
        F.md5(F.concat(F.col("id").cast("string"), F.lit(":arr"))).alias("ak"),
        F.md5(F.concat(F.col("id").cast("string"), F.lit(":samp"))).alias("sk"),
    )
    wp = Window.partitionBy("entity_id")
    ranked = arr.select(
        "id",
        "entity_id",
        "ak",
        F.row_number().over(wp.orderBy("sk", "id")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_ops"),
    )
    samp = ranked.filter(F.col("rn") <= _INV_SAMPLE_K)
    a = samp.select(
        "entity_id",
        F.col("id").alias("id_a"),
        F.col("ak").alias("ak_a"),
        "n_ops",
    )
    b = samp.select(
        F.col("entity_id"), F.col("id").alias("id_b"), F.col("ak").alias("ak_b")
    )
    per = (
        a.join(b, "entity_id")
        .where(F.col("ak_a") < F.col("ak_b"))
        .groupBy("entity_id")
        .agg(
            F.max("n_ops").cast("long").alias("n_ops"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count_if(F.col("id_a") > F.col("id_b"))
            .cast("long")
            .alias("n_inversions"),
        )
    )
    ent = per.select(
        "n_ops",
        "n_pairs",
        "n_inversions",
        F.expr(
            "CAST(CAST(n_inversions AS DECIMAL(38,0)) * 1000000 "
            "DIV n_pairs AS BIGINT)"
        ).alias("inv_ppm"),
    )
    return ent.groupBy(
        F.expr("CAST(inv_ppm DIV 100000 AS BIGINT)").alias("inv_decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.count_if(F.col("n_ops") > _INV_SAMPLE_K)
        .cast("long")
        .alias("n_entities_capped"),
        F.sum("n_inversions").cast("long").alias("total_inversions"),
        F.sum("n_pairs").cast("long").alias("total_pairs"),
        F.min("inv_ppm").cast("long").alias("min_inv_ppm"),
        F.max("inv_ppm").cast("long").alias("max_inv_ppm"),
    )


@register(
    "cdc_compaction_savings_by_horizon",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    mx AS (SELECT MAX(id) AS max_id FROM wal),
    horizons AS (SELECT unnest([1000, 5000, 20000]) AS h),
    windowed AS (
        SELECT h.h, w.entity_id, w.id, w.operation
        FROM wal w CROSS JOIN mx JOIN horizons h
          ON w.id > mx.max_id - h.h
    ),
    last AS (
        SELECT h, entity_id, operation FROM (
            SELECT h, entity_id, operation,
                   row_number() OVER (PARTITION BY h, entity_id
                                      ORDER BY id DESC) AS rn
            FROM windowed) t WHERE rn = 1
    ),
    agg AS (
        SELECT w.h,
               CAST(COUNT(*) AS BIGINT) AS n_ops,
               CAST(COUNT(DISTINCT w.entity_id) AS BIGINT) AS n_entities
        FROM windowed w GROUP BY w.h
    ),
    surv AS (
        SELECT h,
               CAST(count_if(operation <> 'DELETE') AS BIGINT)
                   AS n_surviving
        FROM last GROUP BY h
    )
    SELECT CAST(a.h AS BIGINT) AS horizon_ops,
           a.n_ops, a.n_entities, s.n_surviving,
           CAST(CAST(a.n_ops - s.n_surviving AS HUGEINT) * 1000000
                // a.n_ops AS BIGINT) AS savings_ppm
    FROM agg a JOIN surv s USING (h)
    """,
    doc="Log-compaction sizing curve: for trailing WAL horizons of the "
        "last H ops (H in 1000/5000/20000 — the retention knob), how "
        "many rows survive keep-last-op-per-key compaction with DELETE "
        "tombstones dropped, and the resulting space savings in ppm — "
        "the number that decides the reference's retention/compaction "
        "policy (WalHeadHandle head discovery stays O(retained), "
        "SURVEY.md §2.A R2) and sizes a Kafka-style compacted-topic "
        "stand-in for the WAL. One per-(horizon, entity) last-op window "
        "over the horizon-exploded frame (3x the trailing slice, never "
        "3x the corpus: the id range-join prunes before the shuffle); "
        "all outputs exact integers. Reference parity: R2 retention "
        "semantics, extension surface (SURVEY.md §2.B CDC rows).",
)
def cdc_compaction_savings_by_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    mx = wal.agg(F.max("id").alias("max_id"))
    horizons = spark.range(1).select(
        F.explode(F.array(F.lit(1000), F.lit(5000), F.lit(20000))).alias("h")
    )
    windowed = (
        wal.crossJoin(F.broadcast(mx))
        .join(F.broadcast(horizons), F.col("id") > F.col("max_id") - F.col("h"))
        .select("h", "entity_id", "id", "operation")
    )
    last = (
        windowed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("h", "entity_id").orderBy(F.col("id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("h", "entity_id", "operation")
    )
    agg = windowed.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_ops"),
        F.countDistinct("entity_id").cast("long").alias("n_entities"),
    )
    surv = last.groupBy("h").agg(
        F.count_if(F.col("operation") != "DELETE").cast("long").alias("n_surviving")
    )
    return (
        agg.join(surv, "h")
        .select(
            F.col("h").cast("long").alias("horizon_ops"),
            "n_ops",
            "n_entities",
            "n_surviving",
            F.expr(
                "CAST(CAST(n_ops - n_surviving AS DECIMAL(38,0)) * 1000000 "
                "DIV n_ops AS BIGINT)"
            ).alias("savings_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Daily op-mix drift audit — round-9 late addition


@register(
    "cdc_op_mix_drift_by_day",
    oracle="""
    WITH wal AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CASE event_type WHEN 'signup' THEN 'ADD'
                               WHEN 'error' THEN 'DELETE'
                               ELSE 'UPDATE' END AS operation
        FROM events
    ),
    cell AS (
        SELECT d, operation, CAST(COUNT(*) AS BIGINT) AS obs
        FROM wal GROUP BY d, operation
    ),
    daytot AS (
        SELECT d, CAST(SUM(obs) AS BIGINT) AS n_d FROM cell GROUP BY d
    ),
    optot AS (
        SELECT operation, CAST(SUM(obs) AS BIGINT) AS c_op FROM cell
        GROUP BY operation
    ),
    tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS t FROM cell),
    -- complete day x op grid so zero cells contribute their full
    -- expected-count term (obs = 0 => term = n_d * c_op * 1e6 / t^2 ... )
    grid AS (
        SELECT dt.d, dt.n_d, ot.operation, ot.c_op, t.t,
               COALESCE(c.obs, 0) AS obs
        FROM daytot dt CROSS JOIN optot ot CROSS JOIN tot t
        LEFT JOIN cell c ON c.d = dt.d AND c.operation = ot.operation
    )
    SELECT CAST(d AS TIMESTAMP) AS day, CAST(MAX(n_d) AS BIGINT) AS n_ops,
           CAST(SUM(CAST(obs * t - n_d * c_op AS HUGEINT)
                    * (obs * t - n_d * c_op) * 1000000
                    // (CAST(n_d AS HUGEINT) * c_op * t)) AS BIGINT)
               AS chi2_micro
    FROM grid GROUP BY d
    """,
    doc="Daily operation-mix drift audit over the WAL: for each day, the "
        "chi-square distance between that day's ADD/UPDATE/DELETE mix "
        "and the whole-stream mix — the monitoring number that catches a "
        "producer bug flipping UPDATEs to DELETEs long before row "
        "counts move (drift in COMPOSITION, which R15's per-type "
        "meters report only globally; reference analog "
        "WalConsumerMetrics op counters). Each cell's chi-square term "
        "(obs - E)^2/E with E = n_d*c_op/T evaluates by integer "
        "cross-multiplication as (obs*T - n_d*c_op)^2 * 1e6 // "
        "(n_d*c_op*T) — HUGEINT/DECIMAL products, one floor division "
        "per cell, order-free sums; the day x op grid is completed so "
        "MISSING ops contribute their full expected term (a day with "
        "zero DELETEs must look anomalous, not invisible). Plan: one "
        "events scan to a day x 3 cell aggregate; grid completion and "
        "totals are broadcast-sized frames. Reference parity: R14/R15 "
        "metrics extension (SURVEY.md §2.A rows).",
)
def cdc_op_mix_drift_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wal = ev.select(
        F.to_date(F.to_timestamp("ts")).alias("d"),
        F.when(F.col("event_type") == "signup", F.lit("ADD"))
        .when(F.col("event_type") == "error", F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
        .alias("operation"),
    )
    cell = wal.groupBy("d", "operation").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    daytot = cell.groupBy("d").agg(F.sum("obs").cast("long").alias("n_d"))
    optot = cell.groupBy("operation").agg(
        F.sum("obs").cast("long").alias("c_op")
    )
    tot = cell.agg(F.sum("obs").cast("long").alias("t"))
    grid = (
        daytot.crossJoin(F.broadcast(optot))
        .crossJoin(F.broadcast(tot))
        .join(cell, ["d", "operation"], "left")
        .select(
            "d",
            "n_d",
            "c_op",
            "t",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
        )
    )
    return grid.groupBy(F.col("d").cast("timestamp").alias("day")).agg(
        F.max("n_d").cast("long").alias("n_ops"),
        F.sum(
            F.expr(
                "CAST(obs * t - n_d * c_op AS DECIMAL(38,0)) "
                "* (obs * t - n_d * c_op) * 1000000 "
                "DIV (CAST(n_d AS DECIMAL(38,0)) * c_op * t)"
            )
        )
        .cast("long")
        .alias("chi2_micro"),
    )


def _checksum_sql(table: str, day_expr: str, row_expr: str) -> str:
    # ADVICE r10: the raw per-day sum of 48-bit terms exceeds int64 past
    # ~32k rows/day, where the HUGEINT->BIGINT cast raises in DuckDB but
    # NULLs in Spark. Fold the wide sum modulo 2^48: still an exact,
    # order-independent content checksum (sum mod m is invariant to
    # partial-aggregation order), and the column is int64 at ANY scale.
    return f"""
    SELECT '{table}' AS tbl, {day_expr} AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substring(md5({row_expr}), 1, 12))::BIGINT
                         AS HUGEINT)) % 281474976710656
                AS BIGINT) AS checksum_sum
    FROM {table} GROUP BY 2
    """


@register(
    "dq_content_checksum_by_day",
    oracle=_checksum_sql(
        "orders",
        "CAST(CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS VARCHAR)",
        "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
        " || '|' || o_orderstatus || '|' ||"
        " CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)"
        " || '|' || o_orderpriority",
    ),
    doc="Content checksum manifest of the orders table, one row per "
        "order date: row count plus the SUM of a 48-bit md5-derived "
        "integer over every row's canonical serialization "
        "(key|custkey|status|cents|priority) — the cross-system "
        "reconciliation artifact that catches silent row corruption, "
        "truncation, or value drift during a migration/backfill, where "
        "dq_reconcile_totals (which sums one measure) would miss a "
        "same-total swap of two fields. The serialization pins every "
        "value to an integer-or-enum string so both engines hash "
        "identical bytes (md5 is bit-identical across engines; the "
        "48-bit terms are summed in DECIMAL(38,0)/HUGEINT then folded "
        "modulo 2^48 so the manifest column is int64 at ANY rows/day — "
        "ADVICE r10); summing (not "
        "hashing the sorted list) keeps the fold order-independent. "
        "Plan: ONE map-side conditional aggregate over a 5-column "
        "projected scan, shuffled only by the bounded day domain. "
        "Reference parity: extension surface (SURVEY.md §2.B DQ rows).",
)
def dq_content_checksum_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.col("o_orderpriority"),
    )
    chk = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("long")
    return o.groupBy(
        F.to_date("o_orderdate").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(chk.cast("decimal(38,0)")) % F.lit(281474976710656))
        .cast("long")
        .alias("checksum_sum"),
    ).select(F.lit("orders").alias("tbl"), "day", "n_rows", "checksum_sum")


@register(
    "cdc_op_transition_matrix",
    oracle=f"""
    WITH wal AS ({{WAL_SQL}}),
    seq AS (
        SELECT entity_id, operation,
               lag(operation) OVER (PARTITION BY entity_id ORDER BY id)
                   AS prev_op
        FROM wal
    )
    SELECT prev_op, operation AS op,
           CAST(prev_op || '>' || operation IN
                ('ADD>UPDATE', 'ADD>DELETE', 'UPDATE>UPDATE',
                 'UPDATE>DELETE', 'DELETE>ADD') AS BOOLEAN) AS legal,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_op IS NOT NULL
    GROUP BY 1, 2, 3 ORDER BY 1, 2
    """.format(WAL_SQL=WAL_SQL),
    doc="Per-entity operation-transition matrix over the WAL: counts of "
        "every (previous op -> op) pair in id order, flagged legal per "
        "the CDC lifecycle (ADD starts, UPDATE/DELETE continue, only "
        "DELETE->ADD re-creates; ADD>ADD / UPDATE>ADD / DELETE>UPDATE / "
        "DELETE>DELETE are protocol violations a well-formed producer "
        "never emits). The reference APPLIES ops idempotently without "
        "checking legality (ReflectionDatabaseOperationPerformer.java "
        "applies whatever arrives — R6-R8), so this is the upstream-"
        "producer audit the consumer itself cannot do: a nonzero "
        "illegal row localizes a producer bug or an out-of-order "
        "delivery BEFORE state diverges silently. One lag window on "
        "the natural (entity_id, id) ordering — the same partitioning "
        "every CDC apply already shuffles on — then a bounded 3x3 "
        "rollup. Reference parity: R6-R8 lifecycle semantics "
        "(WalConsumer.java:86-101) made auditable.",
)
def cdc_op_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    w = Window.partitionBy("entity_id").orderBy("id")
    seq = wal.select(
        "entity_id",
        "operation",
        F.lag("operation").over(w).alias("prev_op"),
    ).where(F.col("prev_op").isNotNull())
    legal = F.concat(F.col("prev_op"), F.lit(">"), F.col("operation")).isin(
        "ADD>UPDATE", "ADD>DELETE", "UPDATE>UPDATE",
        "UPDATE>DELETE", "DELETE>ADD",
    )
    return (
        seq.groupBy(
            "prev_op", F.col("operation").alias("op"), legal.alias("legal")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("prev_op", "op")
    )


@register(
    "cdc_entity_resurrection_latency",
    oracle=f"""
    WITH wal AS ({WAL_SQL}),
    seq AS (
        SELECT entity_id, id, operation,
               lag(operation) OVER (PARTITION BY entity_id ORDER BY id)
                   AS prev_op,
               lag(id) OVER (PARTITION BY entity_id ORDER BY id) AS prev_id
        FROM wal
    ),
    res AS (
        SELECT id - prev_id AS gap
        FROM seq
        WHERE operation = 'ADD' AND prev_op = 'DELETE'
    )
    SELECT CAST(length(printf('%b', gap)) - 1 AS BIGINT) AS gap_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(gap) AS BIGINT) AS total_gap,
           round(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 2) AS avg_gap
    FROM res GROUP BY 1 ORDER BY 1
    """,
    doc="Entity resurrection-latency histogram: for every DELETE "
        "immediately followed (in per-entity WAL order) by a re-creating "
        "ADD, the WAL-id distance between them, log2-bucketed — the "
        "churn fingerprint that separates flap (delete/re-add within a "
        "few records: usually a producer retry bug or a tombstone race) "
        "from genuine lifecycle re-creation, and the empirical input to "
        "choosing a tombstone retention horizon "
        "(cdc_tombstone_retention): retention must exceed the observed "
        "resurrection tail or re-adds collide with compacted state. "
        "Same single per-entity lag window every CDC apply already "
        "shuffles on (the transition-matrix pass extended with the id "
        "distance); gaps and buckets are pure integers, the mean is "
        "one exact-sum division. Plan: one window + one bounded "
        "histogram rollup. Reference parity: R6-R8 lifecycle semantics "
        "(WalConsumer.java:86-101) made auditable.",
)
def cdc_entity_resurrection_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    wal = synthetic_wal(spark, sf_dir)
    w = Window.partitionBy("entity_id").orderBy("id")
    seq = wal.select(
        "entity_id",
        "id",
        "operation",
        F.lag("operation").over(w).alias("prev_op"),
        F.lag("id").over(w).alias("prev_id"),
    )
    res = seq.where(
        (F.col("operation") == "ADD") & (F.col("prev_op") == "DELETE")
    ).select((F.col("id") - F.col("prev_id")).alias("gap"))
    return (
        res.groupBy(
            (F.length(F.bin(F.col("gap"))) - 1).cast("long").alias("gap_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("gap").cast("long").alias("total_gap"),
            F.round(F.sum("gap").cast("double") / F.count(F.lit(1)), 2).alias(
                "avg_gap"
            ),
        )
        .orderBy("gap_bucket")
    )
