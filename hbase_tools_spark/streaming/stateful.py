"""Custom stateful streaming operators (S4): cluster-membership change
detection, the streaming funnel and streaming last-touch attribution
via ``applyInPandasWithState``.

The reference polls live servers every 90 s and spawns work for servers
it has not seen before (compactor/CompactorManager.java:147-164, set
diff against the known map).  The Spark-idiomatic form is a stateful
stream keyed by server: per-server state holds (last_seen, snapshots
seen); a key with no prior state is a new member → emit an IN event.

Membership state is per-key and O(1); keys partition by server, so at
any cluster size the state store scales with #servers, not traffic.

The USER-keyed operators below (funnel, attribution) shard state by a
deterministic hash BUCKET of ``user_id`` instead of the raw user id.
Rationale (optimization guide §4 — the Python boundary): PySpark's
``applyInPandasWithState`` pays a fixed per-KEY Python round trip
(per group: Arrow slice → pandas frames, GroupState construct with a
JSON properties parse, the user function call, state re-pickle, a
1-row output frame folded into a pd.concat) measured at ~30 µs/key —
with per-user keys that machinery dominated the drain (~80 % of wall
at sf0.1, decomposed in SCALE.md r8/r12).  Bucketed keys amortize it:
one Python round trip per BUCKET carries every touched user in that
bucket; per-user state entries live as parallel arrays inside the
bucket value, and the per-user fold logic is byte-identical to the
per-user-key form (the fold helpers below are the single source of
truth, unit-pinned in tests/test_streaming.py).

Scale contract of the bucketing:
  * bucket count scales with the feed (``buckets`` argument; the
    registered drains size it from ``auto_state_partitions``), so the
    per-bucket user population — and therefore the state value a
    micro-batch rewrites when ANY of its users is touched — stays
    bounded as the corpus grows;
  * the trade-off is explicit: a sparse micro-batch touching one user
    rewrites that user's whole bucket (bounded by bucket population),
    in exchange for Python key machinery amortized ~bucket-size-fold;
    a deployment whose batches are extremely sparse can raise
    ``buckets`` until a bucket approaches one user, recovering the
    per-user layout continuously;
  * state per user inside a bucket is exactly the pruned per-user
    tuple the per-user design held (funnel: vmin + still-winnable
    clicks/purchases; attribution: two scalars) — the bounds proven by
    the unit tests are unchanged.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import Model
from ..functions.partitioning import relation_bytes
from ..registry import query

OUTPUT_SCHEMA = "server string, first_ts bigint, event string"
STATE_SCHEMA = "last_ts bigint, seen bigint"

#: Bucket count for the registered user-keyed drains is
#: ``_BUCKETS_PER_PARTITION x auto_state_partitions`` — enough buckets
#: that every state partition runs tens of Python group calls (good
#: worker utilisation, bounded per-bucket state) while keeping the
#: per-bucket framework cost negligible.
_BUCKETS_PER_PARTITION = 32


def _detect_new_members(key, pdfs, state: GroupState):
    """Emit an IN event the first time a server key is observed; fold
    every batch's observations into (last_seen, observation count)."""
    (server,) = key
    last_ts, seen = (state.get if state.exists else (None, 0))
    first_batch_ts = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        mn = int(pdf["obs_ts"].min())
        mx = int(pdf["obs_ts"].max())
        first_batch_ts = mn if first_batch_ts is None else min(first_batch_ts, mn)
        last_ts = mx if last_ts is None else max(last_ts, mx)
        seen += len(pdf)
    is_new = not state.exists
    state.update((last_ts, seen))
    if is_new and first_batch_ts is not None:
        yield pd.DataFrame(
            {"server": [server], "first_ts": [first_batch_ts], "event": ["IN"]}
        )


def membership_changes(observations: DataFrame) -> DataFrame:
    """S4 — stateful IN-event stream from (server, obs_ts) observations.

    ``observations`` is a *streaming* DataFrame with columns
    ``server: string, obs_ts: bigint`` (epoch seconds)."""
    return observations.groupBy("server").applyInPandasWithState(
        _detect_new_members,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_membership_in",
    oracle="""
SELECT concat('s', CAST(user_id % 10 AS VARCHAR)) AS server,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS first_ts,
       'IN' AS event
FROM events
GROUP BY 1
""",
    views=[],
)
def stream_membership_in(m: Model) -> DataFrame:
    """S4 — first-appearance (IN) events per server derived from the
    event stream, computed by the stateful operator run to completion.
    With one AvailableNow batch, first-seen == min observation time, so
    the result is oracle-checkable."""
    from .jobs import events_stream, run_to_table

    ev = events_stream(m.spark, m.sf_dir)
    obs = ev.select(
        F.concat(F.lit("s"), (F.col("user_id") % 10).cast("string")).alias("server"),
        F.unix_timestamp("ts").alias("obs_ts"),
    )
    return run_to_table(
        membership_changes(obs), "stream_membership_in", "append"
    )


# ---------------------------------------------------------------------------
# Streaming funnel (S-series depth beyond membership): per-user journey
# stage advanced incrementally as events arrive.  The batch twin is
# operators/funnels.events_funnel; the stateful form re-derives the
# chain each batch so it REPLAYS exactly under any arrival order — a
# late-arriving early 'view' can retroactively unlock a 'click' that
# already sits in state, which a naive min-so-far state machine gets
# wrong.
#
# Per-user state is PRUNED to the provably-sufficient set on every
# update (round-4 verdict: the naive per-type arrays grew with total
# per-user event count).  The chain is t1 = min(views), t2 =
# min(clicks > t1), t3 = min(purchases > t2).  Over a stream t1 is
# non-increasing (views only lower the min), therefore click
# eligibility {c : c > t1} only GROWS, so t2 is non-increasing once
# defined, and likewise t3.  Hence:
#   * views: only the min can ever matter -> ONE scalar.
#   * clicks: any click > current t2 can never win (t2 stays eligible
#     forever and only decreases), so keep clicks <= t2; those are the
#     clicks a future lower t1 could still promote.
#   * purchases: same argument against t3.
# In the steady state (user has viewed) the kept clicks/purchases are
# the few events that PRECEDE the current chain times — O(1) for
# in-order streams, bounded by pre-chain stragglers otherwise — so the
# state store scales with #users, not with per-user traffic.  The one
# case exact semantics cannot prune: a user with NO qualifying view
# yet, whose clicks/purchases must ALL be retained (any future view
# could lower t1 below any of them) — deduplicated to distinct event
# times here; the production bound for such users is an event-time
# watermark timeout, as with streaming dedup.
# ---------------------------------------------------------------------------

from ..operators.funnels import (  # noqa: E402 — the ONE stage tuple
    _FUNNEL_STAGES as FUNNEL_STAGES,
)
FUNNEL_OUTPUT_SCHEMA = (
    "user_id bigint, stage_reached int, t1 bigint, t2 bigint, t3 bigint"
)
#: Per-BUCKET state: parallel arrays over the bucket's users, each
#: user's entry the exact pruned tuple of the per-user design.
FUNNEL_STATE_SCHEMA = (
    "users array<bigint>, vmins array<bigint>, "
    "clicks array<array<bigint>>, purchases array<array<bigint>>"
)


def _fold_funnel_user(vmin, clicks, purchases, batch_views, batch_clicks,
                      batch_purchases):
    """Fold ONE user's batch events into the pruned funnel state and
    derive the chain snapshot.  Pure function — the single source of
    truth for funnel semantics (unit-pinned: heavy-user boundedness,
    retroactive-candidate retention, view-less dedup).

    Returns ``(vmin, clicks, purchases, stage, t1, t2, t3)`` where the
    first three are the pruned state to store."""
    if batch_views:
        v = min(batch_views)
        vmin = v if vmin is None else min(vmin, v)
    if batch_clicks:
        clicks = clicks + [int(t) for t in batch_clicks]
    if batch_purchases:
        purchases = purchases + [int(t) for t in batch_purchases]
    t1 = vmin
    t2 = (
        min((t for t in clicks if t > t1), default=None)
        if t1 is not None
        else None
    )
    t3 = (
        min((t for t in purchases if t > t2), default=None)
        if t2 is not None
        else None
    )
    # Prune events that can never enter the chain (see module comment):
    # once t2/t3 exist they only decrease, so anything later is dead.
    if t2 is not None:
        clicks = [c for c in clicks if c <= t2]
    if t3 is not None:
        purchases = [p for p in purchases if p <= t3]
    # Collapse duplicates — min(clicks > t1) only needs DISTINCT times,
    # so the retained set is exact while bounding the view-less worst
    # case (no t1 yet -> nothing above is prunable, since any future
    # view could lower t1 below any retained click) to distinct event
    # times.  The production bound for that pre-chain case is an
    # event-time watermark timeout, as with streaming dedup.
    clicks = sorted(set(clicks))
    purchases = sorted(set(purchases))
    stage = (
        3 if t3 is not None else 2 if t2 is not None
        else 1 if t1 is not None else 0
    )
    return vmin, clicks, purchases, stage, t1, t2, t3


def _advance_funnel(key, pdfs, state: GroupState):
    """Fold the batch's events into the bucket's per-user pruned funnel
    states and emit each TOUCHED user's CURRENT funnel snapshot (stage
    + chain times).  One Python call per bucket — the per-user work is
    ``_fold_funnel_user`` over numpy segment slices."""
    import numpy as np

    users, vmins, clickss, purchasess = (
        state.get if state.exists else ((), (), (), ())
    )
    idx = {int(u): i for i, u in enumerate(users)}
    st = [
        [vmins[i], list(clickss[i]), list(purchasess[i])]
        for i in range(len(users))
    ]
    u_parts, e_parts, t_parts = [], [], []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        u_parts.append(pdf["user_id"].to_numpy())
        e_parts.append(pdf["event_type"].to_numpy())
        t_parts.append(pdf["tus"].to_numpy())
    out_u, out_stage, out_t1, out_t2, out_t3 = [], [], [], [], []
    if u_parts:
        u = np.concatenate(u_parts)
        e = np.concatenate(e_parts)
        t = np.concatenate(t_parts)
        order = np.argsort(u, kind="stable")
        u, e, t = u[order], e[order], t[order]
        starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
        ends = np.r_[starts[1:], len(u)]
        for s0, s1 in zip(starts, ends):
            user = int(u[s0])
            e_seg, t_seg = e[s0:s1], t[s0:s1]
            i = idx.get(user)
            vmin, clicks, purchases = (
                st[i] if i is not None else (None, [], [])
            )
            vmin, clicks, purchases, stage, t1, t2, t3 = _fold_funnel_user(
                vmin, clicks, purchases,
                t_seg[e_seg == "view"].tolist(),
                t_seg[e_seg == "click"].tolist(),
                t_seg[e_seg == "purchase"].tolist(),
            )
            if i is None:
                idx[user] = len(st)
                st.append([vmin, clicks, purchases])
            else:
                st[i] = [vmin, clicks, purchases]
            out_u.append(user)
            out_stage.append(stage)
            out_t1.append(t1)
            out_t2.append(t2)
            out_t3.append(t3)
    all_users = sorted(idx, key=idx.get)
    state.update((
        all_users,
        [st[idx[uu]][0] for uu in all_users],
        [st[idx[uu]][1] for uu in all_users],
        [st[idx[uu]][2] for uu in all_users],
    ))
    if out_u:
        yield pd.DataFrame(
            {
                "user_id": pd.array(out_u, dtype="Int64"),
                "stage_reached": pd.array(out_stage, dtype="Int32"),
                "t1": pd.array(out_t1, dtype="Int64"),
                "t2": pd.array(out_t2, dtype="Int64"),
                "t3": pd.array(out_t3, dtype="Int64"),
            }
        )


def _per_user_bucket(
    events: DataFrame, buckets: int, advance, output_schema: str,
    state_schema: str,
) -> DataFrame:
    """The user-keyed stateful shape of the funnel and attribution
    drains: state keys on a deterministic user-hash bucket (see the
    module docstring for the bucketing contract), and ``advance`` folds
    each touched bucket's batch into its per-user state."""
    return (
        events.withColumn(
            "bucket", F.pmod(F.xxhash64("user_id"), F.lit(buckets))
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            advance,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def funnel_stages(events: DataFrame, buckets: int = 64) -> DataFrame:
    """Stateful per-user funnel over a streaming (user_id, event_type,
    tus) relation pre-filtered to the funnel event types.  State keys
    on a deterministic user-hash bucket (see module docstring for the
    bucketing contract); ``buckets`` scales with the feed."""
    return _per_user_bucket(
        events, buckets, _advance_funnel,
        FUNNEL_OUTPUT_SCHEMA, FUNNEL_STATE_SCHEMA,
    )


@query(
    "stream_funnel_stage",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
s1 AS (SELECT user_id, min(tus) AS t1 FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT ev.user_id, min(ev.tus) AS t2 FROM ev JOIN s1 USING (user_id)
       WHERE ev.event_type = 'click' AND ev.tus > s1.t1 GROUP BY ev.user_id),
s3 AS (SELECT ev.user_id, min(ev.tus) AS t3 FROM ev JOIN s2 USING (user_id)
       WHERE ev.event_type = 'purchase' AND ev.tus > s2.t2 GROUP BY ev.user_id)
SELECT u.user_id,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS stage_reached,
       s1.t1, s2.t2, s3.t3
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
""",
    views=[],
)
def stream_funnel_stage(m: Model) -> DataFrame:
    """Streaming funnel snapshot: per user the furthest
    view→click→purchase stage reached with the chain timestamps,
    maintained by the stateful operator as events arrive.  Out-of-order
    safe by construction (state keeps min(view) plus the still-winnable
    clicks/purchases and re-derives the chain each batch — bounded per
    user, see _fold_funnel_user); with one AvailableNow batch the
    drain equals the batch funnel semantics, so the result is
    oracle-checkable.  Multi-batch/late-arrival behavior is pinned in
    tests/test_streaming.py."""
    from .jobs import auto_state_partitions, events_stream, run_to_table

    ev = (
        events_stream(m.spark, m.sf_dir)
        .where(F.col("event_type").isin(*FUNNEL_STAGES))
        .select("user_id", "event_type", F.unix_micros("ts").alias("tus"))
    )
    # bucket count scales with the state partitions so per-bucket
    # state stays bounded as the feed grows
    size = relation_bytes(m.events)
    parts = auto_state_partitions(m.spark, size)
    return run_to_table(
        funnel_stages(ev, buckets=_BUCKETS_PER_PARTITION * parts),
        "stream_funnel_stage", "append",
        state_partitions=parts,
        # per-user snapshots: corpus-scale result, keep it off-driver
        # past fixture scale (see run_to_table)
        source_bytes=size,
    )


# ---------------------------------------------------------------------------
# Streaming last-touch attribution — the streaming twin of
# operators/funnels.events_attribution.  State is TWO SCALARS per user
# (last click / last view time) — bounded by construction at any
# stream length, the contrast case to the funnel's pruned-array state.
# Purchases attribute against state as of their position in the
# per-user (tus, event_id) order; a click arriving in a LATER batch
# than the purchase it preceded is missed (append-mode streaming
# semantics — attribution rows are emitted once, not revised), so with
# one AvailableNow batch the drain equals the batch window semantics
# and the result is oracle-checkable.
# ---------------------------------------------------------------------------

from ..operators.funnels import (  # noqa: E402 — the ONE lookback constant
    _ATTR_LOOKBACK_US,
)

ATTR_OUTPUT_SCHEMA = (
    "user_id bigint, tus bigint, attributed_to string, latency_us bigint"
)
#: Per-BUCKET state: parallel arrays over the bucket's users, each
#: user's entry the two-scalar (last_click, last_view) tuple.
ATTR_STATE_SCHEMA = (
    "users array<bigint>, last_clicks array<bigint>, last_views array<bigint>"
)


def _replay_attribution_user(last_click, last_view, events):
    """Replay ONE user's batch events — ``events`` an iterable of
    (tus, event_type) already in (tus, event_id) order — against the
    two-scalar state.  Pure function (single source of truth for the
    attribution semantics; unit-pinned: late-purchase-is-organic).

    Returns ``(last_click, last_view, out_t, out_a, out_l)`` — the
    advanced state and the purchase attribution rows."""
    out_t, out_a, out_l = [], [], []
    for tus, et in events:
        t = int(tus)
        if et == "click":
            last_click = t if last_click is None else max(last_click, t)
        elif et == "view":
            last_view = t if last_view is None else max(last_view, t)
        else:  # purchase: attribute against state BEFORE this event
            # A touch must PRECEDE the purchase (0 <= delta): a
            # late-arriving purchase older than the state's last click
            # would otherwise pass the lookback with a negative delta
            # and mis-attribute (the oracle's strictly-preceding ROWS
            # frame says organic).
            if (
                last_click is not None
                and 0 <= t - last_click <= _ATTR_LOOKBACK_US
            ):
                out_a.append("click")
                out_l.append(t - last_click)
            elif (
                last_view is not None
                and 0 <= t - last_view <= _ATTR_LOOKBACK_US
            ):
                out_a.append("view")
                out_l.append(t - last_view)
            else:
                out_a.append("organic")
                out_l.append(None)
            out_t.append(t)
    return last_click, last_view, out_t, out_a, out_l


def _advance_attribution(key, pdfs, state: GroupState):
    """Replay the batch's events in per-user (tus, event_id) order
    against the bucket's two-scalar user states, emitting one
    attribution row per purchase.  One Python call per bucket."""
    import numpy as np

    users, lcs, lvs = state.get if state.exists else ((), (), ())
    idx = {int(uu): i for i, uu in enumerate(users)}
    st = [[lcs[i], lvs[i]] for i in range(len(users))]
    u_parts, e_parts, t_parts, id_parts = [], [], [], []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        u_parts.append(pdf["user_id"].to_numpy())
        e_parts.append(pdf["event_type"].to_numpy())
        t_parts.append(pdf["tus"].to_numpy())
        id_parts.append(pdf["event_id"].to_numpy())
    all_u, all_t, all_a, all_l = [], [], [], []
    if u_parts:
        u = np.concatenate(u_parts)
        e = np.concatenate(e_parts)
        t = np.concatenate(t_parts)
        eid = np.concatenate(id_parts)
        order = np.lexsort((eid, t, u))
        u, e, t = u[order], e[order], t[order]
        starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
        ends = np.r_[starts[1:], len(u)]
        for s0, s1 in zip(starts, ends):
            user = int(u[s0])
            i = idx.get(user)
            last_click, last_view = st[i] if i is not None else (None, None)
            last_click, last_view, out_t, out_a, out_l = (
                _replay_attribution_user(
                    last_click, last_view,
                    zip(t[s0:s1].tolist(), e[s0:s1].tolist()),
                )
            )
            if i is None:
                idx[user] = len(st)
                st.append([last_click, last_view])
            else:
                st[i] = [last_click, last_view]
            all_u.extend([user] * len(out_t))
            all_t.extend(out_t)
            all_a.extend(out_a)
            all_l.extend(out_l)
    all_users = sorted(idx, key=idx.get)
    state.update((
        all_users,
        [st[idx[uu]][0] for uu in all_users],
        [st[idx[uu]][1] for uu in all_users],
    ))
    if all_u:
        yield pd.DataFrame(
            {
                "user_id": pd.array(all_u, dtype="Int64"),
                "tus": pd.array(all_t, dtype="Int64"),
                "attributed_to": all_a,
                "latency_us": pd.array(all_l, dtype="Int64"),
            }
        )


def attribution_stream(events: DataFrame, buckets: int = 64) -> DataFrame:
    """Stateful per-user last-touch attribution over a streaming
    (user_id, event_id, event_type, tus) relation.  State keys on a
    deterministic user-hash bucket (see module docstring);
    ``buckets`` scales with the feed."""
    return _per_user_bucket(
        events, buckets, _advance_attribution,
        ATTR_OUTPUT_SCHEMA, ATTR_STATE_SCHEMA,
    )


@query(
    "stream_attribution",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
dec AS (
  SELECT user_id, event_type, tus,
         max(CASE WHEN event_type = 'click' THEN tus END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click,
         max(CASE WHEN event_type = 'view' THEN tus END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view
  FROM ev
)
SELECT CASE
         WHEN last_click IS NOT NULL
              AND tus - last_click <= {_ATTR_LOOKBACK_US} THEN 'click'
         WHEN last_view IS NOT NULL
              AND tus - last_view <= {_ATTR_LOOKBACK_US} THEN 'view'
         ELSE 'organic'
       END AS attributed_to,
       CAST(count(*) AS BIGINT) AS n_purchases
FROM dec WHERE event_type = 'purchase'
GROUP BY 1
""",
    views=[],
)
def stream_attribution(m: Model) -> DataFrame:
    """Streaming last-touch attribution: per-user two-scalar state
    (last click / last view) advanced as events arrive, one
    attribution row per purchase; the registered query drains the
    stream and returns the per-source purchase counts.  With one
    AvailableNow batch the drain equals the batch window semantics
    (``events_attribution``), so the result is oracle-checkable;
    multi-batch behavior is pinned in tests/test_streaming.py.  State
    is O(1) per user by construction — the design target the funnel
    state needed pruning to reach."""
    from .jobs import auto_state_partitions, events_stream, run_to_table

    ev = (
        events_stream(m.spark, m.sf_dir)
        .where(F.col("event_type").isin(*FUNNEL_STAGES))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("tus"),
        )
    )
    size = relation_bytes(m.events)
    parts = auto_state_partitions(m.spark, size)
    drained = run_to_table(
        attribution_stream(ev, buckets=_BUCKETS_PER_PARTITION * parts),
        "stream_attribution", "append",
        state_partitions=parts,
        source_bytes=size,
    )
    return drained.groupBy("attributed_to").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )
