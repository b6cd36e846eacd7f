"""PII detection and redaction over document text (training-data
compliance pass: strip emails / IPs / national-id patterns before a
corpus ships to training).

All detection is built-in regex expressions (``regexp_extract_all`` /
``regexp_replace``) — JVM-side, whole-stage-codegen, zero Python on the
data path — and every pattern is written in the common subset of Java
regex (Spark) and RE2 (DuckDB) so the oracle checks the redaction
byte-for-byte: character classes, bounded repetition, and alternation
only (no backreferences, no lookaround).

The synthetic fixture corpus contains no organic PII (word-soup text),
so the registry query first splices a deterministic PII payload derived
from ``doc_id`` into every third document — identically on both
engines — then proves detection + redaction against the oracle. The
operator itself (``redact_pii``) is payload-agnostic: point it at any
string column.

Scale notes (100 TB): pure row-local projection — no shuffle, no
state; the parquet scan underneath still prunes columns, and the regex
work rides whole-stage codegen. Regex cost is linear in text bytes,
the same pass a C++ scrubber would make, but distributed for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table

# Java-regex ∩ RE2 portable patterns (no \b — RE2 and Java agree on it,
# but the bounded classes below don't need it and explicit is safer).
EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4 = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
SSN = r"\d{3}-\d{2}-\d{4}"

# Order is LOAD-BEARING for redaction: email → ssn → ip, matching the
# oracle SQL and docstring. SSN must run before IP on overlapping spans
# like '1.2.3.123-45-6789' — IP-first would eat the SSN's leading
# octets and the engines would diverge.
PATTERNS = [("email", EMAIL, "<EMAIL>"), ("ssn", SSN, "<SSN>"), ("ip", IPV4, "<IP>")]


def redact_pii(df: DataFrame, col: str) -> DataFrame:
    """Append per-pattern match counts and a fully-redacted copy of
    ``col``. Counts are measured on the original text (each pattern
    independently); redaction applies email → ssn → ip so the
    digit-bearing patterns can't eat each other's replacements.
    """
    out = df
    for name, pat, _ in PATTERNS:
        out = out.withColumn(
            f"n_{name}s",
            F.size(F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(0))).cast(
                "bigint"
            ),
        )
    red: Column = F.col(col)
    for _, pat, token in PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return out.withColumn("redacted", red)


# Deterministic payload spliced into every 3rd doc (both engines build
# the identical string, so the redacted output hashes identically).
_SPARK_PAYLOAD = (
    "concat(' reach u', doc_id, '@mail.example.com or 10.',"
    " doc_id % 200, '.0.', doc_id % 250, ' ssn ',"
    " lpad(cast(doc_id % 1000 as string), 3, '0'), '-42-',"
    " lpad(cast(doc_id % 10000 as string), 4, '0'))"
)
_DUCK_PAYLOAD = (
    "concat(' reach u', doc_id, '@mail.example.com or 10.',"
    " doc_id % 200, '.0.', doc_id % 250, ' ssn ',"
    " lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-42-',"
    " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
)


@query(
    "pii_redact",
    f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || {_DUCK_PAYLOAD} ELSE text END AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL}', 0)) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{IPV4}', 0)) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(text, '{SSN}', 0)) AS BIGINT)
             AS n_ssns,
           regexp_replace(regexp_replace(regexp_replace(
             text, '{EMAIL}', '<EMAIL>', 'g'),
                   '{SSN}', '<SSN>', 'g'),
                   '{IPV4}', '<IP>', 'g') AS redacted
    FROM t ORDER BY doc_id
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: splice the deterministic PII payload into every
    3rd document, then detect + redact. Two-thirds of the corpus
    exercises the no-match fast path; the rest proves each pattern and
    the replacement order byte-for-byte against DuckDB."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.expr(_SPARK_PAYLOAD)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return redact_pii(docs, "text").drop("text").orderBy("doc_id")


K_ANON = 5


@query(
    "privacy_k_anonymity",
    f"""
    WITH q AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer
    ),
    g AS (
      SELECT *,
             CAST(count(*) OVER (
               PARTITION BY c_nationkey, c_mktsegment, band
             ) AS BIGINT) AS grp_n
      FROM q
    )
    SELECT c_custkey,
           CASE WHEN grp_n >= {K_ANON} THEN c_nationkey END AS nation,
           CASE WHEN grp_n >= {K_ANON} THEN c_mktsegment END AS segment,
           CASE WHEN grp_n >= {K_ANON} THEN band END AS bal_band,
           grp_n,
           (grp_n < {K_ANON}) AS suppressed
    FROM g ORDER BY c_custkey
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity enforcement over the customer quasi-identifiers
    (nation, market segment, account-balance band): any row whose
    quasi-identifier combination is shared by fewer than k=5 customers
    has ALL its quasi-identifiers suppressed (NULLed) before release —
    the standard re-identification guard a privacy pass applies before
    a dataset with joinable demographics ships to training, and the
    structural complement of pii_redact (which scrubs direct
    identifiers in free text; this scrubs indirect ones in columns).

    One quasi-key-partitioned Window computes the equivalence-class
    size; suppression is then a row-local CASE projection, so the
    whole operator costs exactly one shuffle on the quasi-identifier
    tuple at any scale. Skew is bounded by the most common
    demographic combination — at 100 TB the same plan holds, with the
    window swappable for a groupBy+broadcast-join when the class-size
    table is small enough to broadcast (class count ≪ row count).
    """
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    win = W.partitionBy("c_nationkey", "c_mktsegment", "band")
    keep = F.col("grp_n") >= K_ANON
    return (
        q.withColumn("grp_n", F.count(F.lit(1)).over(win).cast("bigint"))
        .select(
            "c_custkey",
            F.when(keep, F.col("c_nationkey")).alias("nation"),
            F.when(keep, F.col("c_mktsegment")).alias("segment"),
            F.when(keep, F.col("band")).alias("bal_band"),
            "grp_n",
            (~keep).alias("suppressed"),
        )
        .orderBy("c_custkey")
    )


DP_MAX_MAG = 12


def _trailing_ones_case(var: str) -> str:
    """SQL CASE computing the trailing-ones count of ``var`` (capped at
    DP_MAX_MAG) — ``x % 2^(k+1) == 2^k - 1`` ⟺ exactly k trailing one
    bits. Pure integer arithmetic, identical text on both engines."""
    branches = "".join(
        f" WHEN {var} % {2 ** (k + 1)} = {2 ** k - 1} THEN {k}"
        for k in range(DP_MAX_MAG)
    )
    return f"CASE{branches} ELSE {DP_MAX_MAG} END"


_DP_SPARK_HASH = (
    "conv(substring(md5(concat(cast(c_nationkey as string), '|',"
    " c_mktsegment)), 1, 8), 16, 10)"
)
_DP_DUCK_HASH = (
    "CAST(CONCAT('0x', substr(md5(CONCAT(CAST(c_nationkey AS VARCHAR), '|',"
    " c_mktsegment)), 1, 8)) AS BIGINT)"
)


@query(
    "privacy_dp_counts",
    f"""
    WITH g AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n,
             {_DP_DUCK_HASH} AS h
      FROM customer GROUP BY 1, 2
    ),
    noise AS (
      SELECT nation, segment, n,
             CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END
               * ({_trailing_ones_case("(h // 2)")}) AS eta
      FROM g
    )
    SELECT nation, segment,
           GREATEST(n + eta, 0) AS noisy_count
    FROM noise ORDER BY nation, segment
    """,
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the customer demographic
    histogram: each (nation, segment) count is perturbed with
    SEEDED two-sided geometric noise — the discrete Laplace mechanism
    (ε = ln 2 at p = 1/2), truncated at magnitude 12 and clamped at
    zero — before release. The seed is a cross-engine md5 of the
    group key, making the noise a pure integer function of the data:
    reproducible releases (the pattern DP pipelines use for
    consistency across reruns) and an exactly-checkable oracle.

    The noise derivation never touches floats: the hash's low bit is
    the sign coin and the TRAILING-ONES count of the remaining bits is
    an exact Geometric(1/2) draw (each extra one-bit halves the
    probability), unrolled as integer modulo comparisons that read
    identically on both engines. Plan: one group-keyed partial-agg
    shuffle; noise and clamp are row-local projections on the
    25-class result. At 100 TB the histogram query is the same one
    shuffle — DP cost is O(classes), independent of corpus size.
    """
    cust = load_table(spark, sf_dir, "customer")
    g = (
        cust.groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "h",
            F.expr(
                _DP_SPARK_HASH.replace("c_nationkey", "nation").replace(
                    "c_mktsegment", "segment"
                )
            ).cast("long"),
        )
    )
    eta = F.expr(
        f"(CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END)"
        f" * ({_trailing_ones_case('(h div 2)')})"
    )
    return (
        g.select(
            "nation",
            "segment",
            F.greatest(F.col("n") + eta, F.lit(0)).alias("noisy_count"),
        )
        .orderBy("nation", "segment")
    )


L_DIV = 3


@query(
    "privacy_l_diversity",
    f"""
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS sens
      FROM customer
    )
    SELECT c_nationkey AS nation, c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS grp_n,
           CAST(count(DISTINCT sens) AS BIGINT) AS l,
           (count(DISTINCT sens) >= {L_DIV}) AS diverse
    FROM q GROUP BY 1, 2
    ORDER BY nation, segment
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the customer quasi-identifier classes
    (nation, market segment), with the account-balance band as the
    sensitive attribute: a class is safe only if it contains at least
    l distinct sensitive values — k-anonymity's necessary complement
    (a class of 1000 rows that all share one salary band still leaks
    the sensitive value exactly; privacy_k_anonymity can't see that).

    Plan: one groupBy on the quasi-identifier tuple; COUNT(DISTINCT)
    expands to the standard two-level partial aggregation (distinct
    keys collapse map-side, then per-class), so the shuffle carries
    (class, sensitive) pairs — bounded by distinct combinations, not
    rows. No window, no join; linear at any scale.
    """
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("sens"),
    )
    return (
        q.groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("grp_n"),
            F.countDistinct("sens").cast("bigint").alias("l"),
            (F.countDistinct("sens") >= L_DIV).alias("diverse"),
        )
        .orderBy("nation", "segment")
    )


T_CLOSE = 0.35


@query(
    "privacy_t_closeness",
    f"""
    WITH q AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS sens
      FROM customer
    ), total AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM q
    ), gdist AS (
      SELECT sens, count(*) / (SELECT n FROM total) AS p FROM q GROUP BY sens
    ), cls AS (
      SELECT nation, segment, CAST(count(*) AS BIGINT) AS grp_n
      FROM q GROUP BY 1, 2
    ), grp AS (
      SELECT nation, segment, sens, CAST(count(*) AS BIGINT) AS c
      FROM q GROUP BY 1, 2, 3
    ), cells AS (
      SELECT cls.nation, cls.segment, cls.grp_n, gdist.sens, gdist.p,
             COALESCE(grp.c, 0) / CAST(cls.grp_n AS DOUBLE) AS pg
      FROM cls CROSS JOIN gdist
      LEFT JOIN grp ON grp.nation = cls.nation
                   AND grp.segment = cls.segment AND grp.sens = gdist.sens
    )
    SELECT nation, segment, grp_n,
           CAST(ROUND(SUM(CAST(abs(pg - p) AS DECIMAL(28,14))) / 2, 6)
                AS DOUBLE) AS tvd,
           (CAST(ROUND(SUM(CAST(abs(pg - p) AS DECIMAL(28,14))) / 2, 6)
                 AS DOUBLE) <= {T_CLOSE}) AS close
    FROM cells GROUP BY nation, segment, grp_n
    ORDER BY nation, segment
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the customer quasi-identifier classes
    (nation, market segment) with the account-balance band as the
    sensitive attribute: a class passes only if the total-variation
    distance between its sensitive-value distribution and the GLOBAL
    distribution is ≤ t — the guard l-diversity misses (a class can
    hold l distinct salaries yet still be 99% one band, leaking the
    value probabilistically).

    The TVD sums over every global band, including bands ABSENT from
    the class (those contribute |0 - p_global|) — hence the class ×
    global-band cross join, which is control-plane sized (classes ×
    bands, not rows). Plan: two keyed aggs over the rows, then
    broadcast-joined small frames; per-band |Δp| goes through an exact
    decimal sum so band order can't move the hash. One rows-keyed
    shuffle total at any scale.
    """
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("sens"),
    )
    n_total = q.count()
    glob = q.groupBy("sens").agg(
        (F.count(F.lit(1)) / F.lit(float(n_total))).alias("p")
    )
    cls = q.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_n")
    )
    grp = q.groupBy("nation", "segment", "sens").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cells = (
        cls.crossJoin(F.broadcast(glob))
        .join(F.broadcast(grp), ["nation", "segment", "sens"], "left")
        .select(
            "nation",
            "segment",
            "grp_n",
            "p",
            (
                F.coalesce(F.col("c"), F.lit(0)) / F.col("grp_n").cast("double")
            ).alias("pg"),
        )
    )
    tvd = F.round(
        F.sum(F.abs(F.col("pg") - F.col("p")).cast("decimal(28,14)")) / 2, 6
    ).cast("double")
    return (
        cells.groupBy("nation", "segment", "grp_n")
        .agg(tvd.alias("tvd"), (tvd <= T_CLOSE).alias("close"))
        .orderBy("nation", "segment")
    )


@query(
    "privacy_pseudonymize_ri",
    """
    WITH m AS (
      SELECT c_custkey,
             CAST(concat('0x', substr(md5(concat('cust|',
               CAST(c_custkey AS VARCHAR))), 1, 13)) AS BIGINT) AS pseudo
      FROM customer
    ),
    po AS (
      SELECT m.pseudo, o.o_totalprice
      FROM orders o JOIN m ON m.c_custkey = o.o_custkey
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders_joined,
             CAST(count(DISTINCT pseudo) AS BIGINT) AS n_pseudo_keys
      FROM po
    ),
    direct AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders_direct,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_real_keys
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT d.n_orders_direct, s.n_orders_joined,
           d.n_real_keys, s.n_pseudo_keys,
           d.n_orders_direct = s.n_orders_joined
             AND d.n_real_keys = s.n_pseudo_keys AS ri_preserved
    FROM direct d CROSS JOIN stats s
    """,
)
def privacy_pseudonymize_ri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDONYMIZATION with a REFERENTIAL-INTEGRITY gate: customer
    keys are replaced by keyed-hash surrogates (md5-13 of a salted
    key — deterministic, so every table maps a key to the SAME
    surrogate without a lookup table), and the gate proves the
    pseudonymized join reproduces the real join exactly — same joined
    row count, same distinct-entity count (no hash collision merged
    two customers, no key missed). This is the privacy-engineering
    contract: analytics on pseudonymous data must equal analytics on
    real keys, verified not assumed.

    Scale shape: the surrogate is a row-local expression (no mapping
    table to build, broadcast, or protect); both join counts are
    key-keyed shuffles + 1-row folds. A collision would need ~2^26
    customers per birthday bound at 52 bits — and the gate would
    catch it as n_pseudo_keys < n_real_keys.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    m = cust.select(
        "c_custkey",
        F.expr(
            "cast(conv(substring(md5(concat('cust|', "
            "cast(c_custkey as string))), 1, 13), 16, 10) as bigint)"
        ).alias("pseudo"),
    )
    po = orders.join(m, m["c_custkey"] == orders["o_custkey"]).select(
        "pseudo"
    )
    stats = po.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_joined"),
        F.countDistinct("pseudo").cast("long").alias("n_pseudo_keys"),
    )
    direct = (
        orders.join(cust, cust["c_custkey"] == orders["o_custkey"])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders_direct"),
            F.countDistinct("o_custkey").cast("long").alias("n_real_keys"),
        )
    )
    return direct.crossJoin(F.broadcast(stats)).select(
        "n_orders_direct",
        "n_orders_joined",
        "n_real_keys",
        "n_pseudo_keys",
        (
            (F.col("n_orders_direct") == F.col("n_orders_joined"))
            & (F.col("n_real_keys") == F.col("n_pseudo_keys"))
        ).alias("ri_preserved"),
    )


@query(
    "privacy_risk_histogram",
    """
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS k
      FROM q GROUP BY c_nationkey, c_mktsegment, band
    ),
    tot AS (SELECT CAST(SUM(k) AS BIGINT) AS n FROM g)
    SELECT k AS class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(k * count(*) AS BIGINT) AS n_records,
           CAST(1000000 * k * count(*) // MAX(tot.n) AS BIGINT)
             AS record_ppm
    FROM g CROSS JOIN tot
    GROUP BY k ORDER BY k
    """,
)
def privacy_risk_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk PROFILE: the distribution of
    quasi-identifier equivalence-class sizes (how many classes of size
    k, how many records live in them, record share in ppm) over the
    same (nation, segment, balance-band) quasi-key the k-anonymity
    operator suppresses on. privacy_k_anonymity answers "which rows to
    suppress at k=5"; this answers "what k is even achievable" — the
    histogram a privacy officer reads to CHOOSE k, since the records
    in size-1 classes are the uniquely re-identifiable ones.

    Plan: one quasi-key partial agg (class census), a class-size
    re-agg over the census (census-sized), and a 1-row total
    broadcast. No windows over the data, no joins beyond the 1-row
    fold.
    """
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(FLOOR(c_acctbal / 1000) AS BIGINT)").alias("band"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    tot = g.agg(F.sum("k").cast("long").alias("n"))
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy(F.col("k").alias("class_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.expr("CAST(class_size * count(*) AS BIGINT)").alias(
                "n_records"
            ),
            F.expr(
                "CAST(1000000 * class_size * count(*) div max(n) AS BIGINT)"
            ).alias("record_ppm"),
        )
        .orderBy("class_size")
    )
