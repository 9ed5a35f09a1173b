"""W1 — per-host politeness scheduler as a salted, window-ranked priority
queue (SURVEY.md §2.5 W1, §4.3 item 2).

Reference semantics (crawler/crawler.go:87-92): colly LimitRule
{DomainGlob:"*", Parallelism:3, Delay:5s, RandomDelay:0-3s} — per host,
≤3 concurrent fetches and ≥5s between request starts. Time-based pacing is
nondeterministic; the deterministic closure is a per-wave COUNT budget:

    host_budget = parallelism * wave_seconds / delay_s

URLs over budget are DEFERRED: they stay in the frontier with unchanged
priority and compete again next wave.

Scale design: a naive `row_number() OVER (PARTITION BY host ...)` puts one
mega-host in one task (the whitelist in domains.yaml:2 contains wikipedia).
We run two-phase top-k instead:

  phase 1: rank within (host, salt) — salt = pmod(url_hash, S) — and keep
           rank ≤ budget per shard. A host's data now spreads over S tasks
           and at most S*budget rows per host survive.
  phase 2: rank the survivors within host (tiny: ≤ S*budget rows/host) and
           keep rank ≤ budget.

Phase 2's global per-host rank equals the single-window rank because the
per-shard cut can never evict a row that the global cut would keep (any row
in the global top-budget of a host is in the top-budget of its shard).
Deterministic order: priority DESC, url ASC (W4 tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from axora_spark.session import local_frame

_OVERRIDES = T.StructType([T.StructField("host", T.StringType()),
                           T.StructField("_ovr", T.IntegerType())])


def _order_cols():
    """Deterministic per-host order: priority DESC, url ASC (W4 tie-break).
    (Built lazily — Column construction needs an active SparkContext.)"""
    return [F.col("priority").desc(), F.col("url").asc()]


def salted_topk(df: DataFrame, budget, salt: int) -> DataFrame:
    """THE two-phase salted per-host top-k (single definition —
    code-review r5: the frontier cap re-implemented it): phase 1 prunes
    within (host, url_hash%salt) shards so a hot host's sort spreads
    over `salt` tasks; phase 2 ranks the ≤ salt·k survivors per host.
    Returns df + `rank` (1-based per host by _order_cols), filtered to
    rank ≤ budget. Pass `budget` as a literal int to get
    WindowGroupLimit (per-partition top-k pruning BEFORE each sort
    exchange) in BOTH windows; a Column budget (overrides/caps) trades
    that for per-row limits."""
    salted = df.withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(salt)).cast("int"))
    w1 = Window.partitionBy("host", "_salt").orderBy(*_order_cols())
    survivors = (salted
                 .withColumn("_srn", F.row_number().over(w1))
                 .filter(F.col("_srn") <= budget)
                 .drop("_srn"))
    w2 = Window.partitionBy("host").orderBy(*_order_cols())
    ranked = (survivors.withColumn("rank", F.row_number().over(w2))
              .drop("_salt"))
    return ranked.filter(F.col("rank") <= budget)


def admit(frontier: DataFrame, host_budget: int, salt: int = 8,
          budget_overrides: dict[str, int] | None = None,
          budget_caps: DataFrame | None = None,
          budget_frame: DataFrame | None = None,
          cap_default: int | None = None
          ) -> tuple[DataFrame, DataFrame]:
    """Split a wave's candidate frontier into (admitted, deferred).

    admitted carries `rank` (1-based, per host, deterministic);
    deferred is the remainder, untouched.

    budget_overrides: per-host budget (robots crawl-delay, target mode) —
    a tiny map, broadcast-joined; absent hosts use `host_budget`.

    budget_frame: per-host budget as a (host, _budget) DATAFRAME computed
    distributed (latency-adaptive politeness, operators/adaptive.py —
    cardinality = hosts-with-fetch-history, the robots-table class, so
    broadcast). Composition with overrides is MOST-POLITE-WINS: a host
    present in both uses the SMALLER budget (robots' crawl-delay is a
    floor on politeness, not a license to exceed what the host's
    observed latency can serve); hosts in neither use host_budget.

    The no-override path compares ranks against the LITERAL budget, not
    a `_budget` column: a row_number filter against a foldable constant
    lets Spark insert WindowGroupLimit — a per-partition top-k pruning
    pass BEFORE the window sort/exchange — while a column-vs-column
    comparison disables it (this was the r2→r3 politeness_rank
    regression: the override plumbing added a constant `_budget` column
    even when no overrides existed; plan-gated now)."""
    use_cols = bool(budget_overrides) or budget_caps is not None \
        or budget_frame is not None
    srcs: list = []
    if budget_overrides:
        bdf = local_frame(
            frontier.sparkSession,
            [(h, int(b)) for h, b in budget_overrides.items()],
            _OVERRIDES)
        frontier = frontier.join(F.broadcast(bdf), on="host", how="left")
        srcs.append(F.col("_ovr"))
    if budget_frame is not None:
        frontier = frontier.join(
            F.broadcast(budget_frame
                        .select("host", F.col("_budget").alias("_abud"))),
            on="host", how="left")
        srcs.append(F.col("_abud"))
    if srcs:
        # F.least skips nulls: host in one source → that budget, in
        # both → the smaller (most polite), in neither → the default
        frontier = (frontier
                    .withColumn("_budget",
                                F.coalesce(F.least(*srcs)
                                           if len(srcs) > 1 else srcs[0],
                                           F.lit(host_budget)))
                    .drop("_ovr", "_abud"))
        budget = F.col("_budget")
    elif use_cols:
        frontier = frontier.withColumn("_budget", F.lit(host_budget))
        budget = F.col("_budget")
    else:
        budget = F.lit(host_budget)
    if budget_caps is not None:
        # per-host remaining-quota CAP (cumulative domain quotas,
        # plans/crawl.py): a (host, _cap) frame computed DISTRIBUTED by
        # the caller — broadcast here because its cardinality is
        # #hosts-with-history, the same class as the robots rules table.
        # Hosts ABSENT from the frame default to cap_default — callers
        # deriving caps from an admitted-history table MUST pass the
        # full quota here, because a zero-history host is absent from
        # that table and an INT_MAX default let its first wave blow
        # straight through domain_quota (ADVICE r5 high: 6 admitted vs
        # the oracle's 2). cap_default=None keeps absent hosts uncapped
        # for callers whose frame covers every capped host by design.
        frontier = (frontier.join(
            F.broadcast(budget_caps.select("host", "_cap")),
            on="host", how="left")
            .withColumn("_budget",
                        F.least(budget,
                                F.coalesce(F.col("_cap"),
                                           F.lit(cap_default
                                                 if cap_default is not None
                                                 else 2**31 - 1))))
            .drop("_cap"))
        budget = F.col("_budget")

    admitted = salted_topk(frontier, budget, salt)
    if use_cols:
        admitted = admitted.drop("_budget")
        frontier = frontier.drop("_budget")
    # Deferred = everything not admitted. Anti-join on url_hash (unique per
    # wave after frontier dedup) keeps this a co-partitioned hash join.
    deferred = frontier.join(
        admitted.select("url_hash"), on="url_hash", how="left_anti")
    return admitted, deferred
