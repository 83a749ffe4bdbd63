"""Event decode → demux → enrichment pipeline (SURVEY.md §2 J2/§2.10, Phase 2).

Reference shape (/root/reference/indexer/scan_events_txs.py):
- :115-132 parse_tx_receipt envelope (block, hash, gas, timestamps)
- :134-157 demux decoded logs to per-(contract, event) handlers
- handlers compute derived financial columns and upsert into
  Transaction / Notification / FastBtcBridge / SettlementState

Spark-first: the `logs` array explodes once; payloads decode with
`from_json` against per-event schemas (no row-at-a-time ABI library in the
hot path — pre-decoded JSON is the contract of the raw table, FIXTURES.md
§1); each handler is a DataFrame->DataFrame function over its filtered
slice; the union of handler outputs feeds the keyed upsert sink. Handler
routing is a filter, not a shuffle — one pass over the exploded logs
produces every sink.

Wei math: all amounts are DECIMAL(38,0) wei (events/events.py:5
precision=10**18); derived columns use functions/wei.py.
"""

from __future__ import annotations

import datetime as dt
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import wei

DEC38 = "decimal(38,0)"

# --- per-event payload schemas (FIXTURES.md §2; events/* handlers) ---------


def _s(*fields) -> StructType:
    out = []
    for f_ in fields:
        if isinstance(f_, tuple):
            name, typ = f_
        else:
            name, typ = f_, StringType()  # amounts arrive as decimal strings
        out.append(StructField(name, typ, True))
    return StructType(out)


EXCHANGE_FIELDS = _s(
    "account", "amount", "reserveTotal", "commission", "reservePrice",
    "mocCommissionValue", "mocPrice", "mocMarkup", "btcMarkup",
    "reserveTokenMarkup", "interests", "leverage",
)

EVENT_SCHEMAS: dict[str, StructType] = {
    # MoCExchange family (events/mocexchange.py:42-89)
    "RiskProMint": EXCHANGE_FIELDS,
    "RiskProRedeem": EXCHANGE_FIELDS,
    "RiskProxMint": EXCHANGE_FIELDS,
    "RiskProxRedeem": EXCHANGE_FIELDS,
    "StableTokenMint": EXCHANGE_FIELDS,
    "StableTokenRedeem": EXCHANGE_FIELDS,
    "FreeStableTokenRedeem": EXCHANGE_FIELDS,
    # Settlement (events/mocsettlement.py)
    "SettlementStarted": _s(
        ("stableTokenRedeemCount", LongType()), ("deleveragingCount", LongType()),
        "riskProxPrice", "reservePrice",
    ),
    "RedeemRequestAlter": _s("redeemer", "delta", "isAddition"),
    "RedeemRequestProcessed": _s("redeemer", "amount"),
    "SettlementRedeemStableToken": _s(
        ("queueSize", LongType()), "accumCommissions", "reservePrice"
    ),
    "SettlementDeleveraging": _s(
        "leverage", "riskProxPrice", "reservePrice", ("startBlockNumber", LongType())
    ),
    "SettlementCompleted": _s(),
    # MoC (events/moc.py)
    "BucketLiquidation": _s("bucket"),
    "ContractLiquidated": _s("bucket"),
    # MoCInrate (events/mocinrate.py)
    "InrateDailyPay": _s("amount", ("daysToSettlement", LongType())),
    "RiskProHoldersInterestPay": _s("amount", "nReserveBucketC0BeforePay"),
    # MoCState (events/mocstate.py)
    "StateTransition": _s(("newState", LongType())),
    # ERC20 tokens (events/token_*.py)
    "Transfer": _s("from", "to", "value"),
    "Approval": _s("owner", "spender", "value"),
    # FastBtcBridge (events/fastbtcbridge.py)
    "NewBitcoinTransfer": _s(
        "transferId", "btcAddress", ("nonce", LongType()), "amountSatoshi",
        "feeSatoshi", "rskAddress",
    ),
    "BitcoinTransferStatusUpdated": _s("transferId", ("newStatus", LongType())),
}

FASTBTC_STATUS = {0: "NOT_STARTED", 1: "SENDING", 2: "MINED", 3: "REFUNDED", 4: "RECLAIMED"}
D_STATES = {0: "Liquidated", 1: "BProDiscountRate", 2: "BelowCobj", 3: "AboveCobj"}


# --- plan-construction memos -------------------------------------------
# Every handler below builds its expressions from plan-independent
# F.col()/F.lit() references, so the Column trees are reusable across
# DataFrames (the supported pyspark idiom: define a Column once, select
# it from many frames). Building them is NOT free: the full tick-path
# pipeline costs ~3000 py4j round trips ≈ 0.8 s of single-threaded
# driver latency, and the incremental indexer paid it again on EVERY
# 3-second tick (guide §4's "heavyweight init once" applied to the
# driver side). The lru_caches below construct each handler's column
# bundle once per process, keyed by the static arguments that change
# the expressions; per-tick work drops to the handful of select/filter
# calls that ship the prebuilt trees. (Columns are immutable expression
# wrappers; the local gateway JVM outlives SparkSession restarts within
# a process, so cached trees stay valid across sessions in tests.)


@lru_cache(maxsize=None)
def _explode_logs_cols() -> tuple[tuple, tuple]:
    outer = (
        F.col("blockNumber").alias("block_number"),
        F.col("hash").alias("transaction_hash"),
        F.col("gas_used"),
        F.col("gasPrice").cast(DEC38).alias("gas_price"),
        F.col("timestamp").alias("block_ts"),
        F.col("timestamp").alias("created_at"),
        F.col("status").alias("receipt_status"),
        F.explode("logs").alias("log"),
    )
    inner = (
        F.lower(F.col("log.address")).alias("contract"),
        F.col("log.logIndex").alias("log_index"),
        F.col("log.event_name").alias("event_name"),
        F.col("log.payload").alias("payload"),
    )
    return outer, inner


def explode_logs(raw: DataFrame) -> DataFrame:
    """raw_transactions (FIXTURES.md §1) -> one row per log with the
    parse_tx_receipt envelope (scan_events_txs.py:115-132)."""
    outer, inner = _explode_logs_cols()
    return raw.select(*outer).select("*", *inner).drop("log")


@lru_cache(maxsize=None)
def _decode_cols(event_name: str) -> tuple:
    """(filter col, from_json col or None) for one event type."""
    schema = EVENT_SCHEMAS[event_name]
    flt = F.col("event_name") == event_name
    ev = F.from_json("payload", schema) if len(schema.fields) else None
    return flt, ev


def decode_event(logs: DataFrame, event_name: str) -> DataFrame:
    """Filter one event type and decode its JSON payload into `ev.*`
    (from_json with the per-event schema — Catalyst JSON parser, pushdown-
    friendly; the filter prunes before parsing)."""
    flt, ev = _decode_cols(event_name)
    df = logs.filter(flt)
    if ev is None:
        return df
    return df.withColumn("ev", ev)


def _wei(col):
    return col.cast(DEC38)


EXCHANGE_EVENTS = (
    "RiskProMint", "RiskProRedeem", "RiskProxMint", "RiskProxRedeem",
    "StableTokenMint", "StableTokenRedeem", "FreeStableTokenRedeem",
)


@lru_cache(maxsize=None)
def _exchange_all_pre() -> tuple:
    return (
        F.col("event_name").isin(list(EXCHANGE_EVENTS)),
        F.from_json("payload", EXCHANGE_FIELDS),
    )


def enrich_exchange_all(logs: DataFrame) -> DataFrame:
    """All 7 MoCExchange events in ONE pass: they share EXCHANGE_FIELDS, so
    one isin-filter + one from_json replaces seven filtered subplans and a
    6-deep unionByName — same rows (mint-ness becomes an endswith('Mint')
    expression), but 1/7th the plan nodes. On a 3-second incremental tick
    the driver re-analyzes the demux plan every cycle, so plan breadth is
    latency (measured in PLANS.md); at batch scale it's also one scan slice
    instead of seven."""
    flt, ev = _exchange_all_pre()
    df = logs.filter(flt).withColumn("ev", ev)
    return df.select(*_exchange_out_cols(None))


def enrich_exchange(logs: DataFrame, event_name: str) -> DataFrame:
    """MoCExchange derived columns (events/mocexchange.py:42-89) for one
    event type: USD amount, rbtc commission fallback to MoC-token
    commission (F5), gas fee, signed total (F7). Output =
    Transaction-shaped rows."""
    df = decode_event(logs, event_name)
    return df.select(*_exchange_out_cols(event_name))


@lru_cache(maxsize=None)
def _exchange_out_cols(event_name: str | None) -> tuple:
    """The 19 Transaction-shaped output columns; key None = the all-events
    pass (event/mint-ness read from the row), a name = that event's
    literal form."""
    if event_name is None:
        event_col = F.col("event_name")
        is_positive = F.col("event_name").endswith("Mint")
    else:
        event_col = F.lit(event_name)
        is_positive = F.lit(event_name.endswith("Mint"))
    amount = _wei(F.col("ev.amount"))
    reserve_total = _wei(F.col("ev.reserveTotal"))
    commission = _wei(F.col("ev.commission"))
    reserve_price = _wei(F.col("ev.reservePrice"))
    moc_commission = _wei(F.col("ev.mocCommissionValue"))
    moc_price = _wei(F.col("ev.mocPrice"))
    # markup arrives as btcMarkup OR reserveTokenMarkup (F5 fallback input)
    markup = F.coalesce(
        _wei(F.col("ev.btcMarkup")), _wei(F.col("ev.reserveTokenMarkup")),
        F.lit(0).cast(DEC38),
    )
    interests = F.coalesce(_wei(F.col("ev.interests")), F.lit(0).cast(DEC38))

    rbtc_commission = commission + markup
    usd_commission = F.when(
        rbtc_commission > 0, wei.usd_amount(rbtc_commission, reserve_price)
    ).otherwise(wei.usd_amount(moc_commission, moc_price))
    gas_fee = wei.gas_fee_wei(F.col("gas_used"), F.col("gas_price"))

    return (
        F.col("transaction_hash").alias("transactionHash"),
        F.lower(F.col("ev.account")).alias("address"),
        F.col("block_number").alias("blockNumber"),
        event_col.alias("event"),
        amount.alias("amount"),
        reserve_total.alias("RBTCAmount"),
        wei.usd_amount(reserve_total, reserve_price).alias("USDAmount"),
        rbtc_commission.alias("rbtcCommission"),
        usd_commission.alias("USDCommission"),
        interests.alias("rbtcInterests"),
        wei.usd_amount(interests, reserve_price).alias("USDInterests"),
        gas_fee.alias("gasFeeRBTC"),
        wei.usd_amount(gas_fee, reserve_price).alias("gasFeeUSD"),
        wei.signed_total(
            reserve_total, rbtc_commission, interests, gas_fee, is_positive
        ).alias("RBTCTotal"),
        is_positive.alias("isPositive"),
        reserve_price.alias("reservePrice"),
        moc_price.alias("mocPrice"),
        F.col("created_at").alias("createdAt"),
        F.col("log_index").alias("logIndex"),
    )


def _exchange_select(df: DataFrame) -> DataFrame:
    """Compat wrapper over the cached column bundle for callers that
    decode the exchange payload themselves (misc_registry's raw-hex leg):
    `df` must carry event_name/ev/gas/created_at/log_index; the event
    name and mint-ness are read from the row (the None-key bundle
    encodes F.col("event_name") / endswith("Mint") — formerly explicit
    column arguments that every caller passed identically; dropped so a
    future caller can't pass a different value and silently get the
    row-derived one)."""
    return df.select(*_exchange_out_cols(None))


@lru_cache(maxsize=64)
def _transfer_cols(token: str, excl: tuple[str, ...]) -> tuple:
    """(side explode col, pair-exclusion filter, output cols) for one
    (token label, lowercased exclusion tuple). Bounded (unlike the
    zero-arg bundles above): this is the one cache whose key embeds a
    caller-supplied collection, so a caller cycling exclusion lists must
    not grow driver memory without bound — 64 covers every (token,
    exclusion-set) pair a deployment configures."""
    side_col = F.explode(
        F.array(
            F.struct(
                F.lower(F.col("ev.from")).alias("address"),
                F.lit(False).alias("is_positive"),
            ),
            F.struct(
                F.lower(F.col("ev.to")).alias("address"),
                F.lit(True).alias("is_positive"),
            ),
        )
    ).alias("side")
    flt = (
        ~F.lower(F.col("ev.from")).isin(list(excl))
        & ~F.lower(F.col("ev.to")).isin(list(excl))
    )
    cols = (
        F.col("transaction_hash").alias("transactionHash"),
        F.col("side.address").alias("address"),
        F.col("block_number").alias("blockNumber"),
        F.lit("Transfer").alias("event"),
        F.lit(token).alias("tokenInvolved"),
        _wei(F.col("ev.value")).alias("amount"),
        F.when(F.col("side.is_positive"), _wei(F.col("ev.value")))
        .otherwise(-_wei(F.col("ev.value")))
        .alias("signedAmount"),
        F.col("side.is_positive").alias("isPositive"),
        F.col("created_at").alias("createdAt"),
        F.col("log_index").alias("logIndex"),
    )
    return side_col, flt, cols


def enrich_transfers(
    logs: DataFrame,
    token: str,
    excluded_addresses: list[str],
    registered_users: DataFrame | None = None,
) -> DataFrame:
    """ERC20 Transfer -> one row per affected side (token_riskpro.py:56-122):
    the 1->N UDTF surface (§2.10) expressed as explode over the (from, to)
    pair, minus zero/contract addresses (P6), optionally semi-joined to
    registered users (P8)."""
    df = decode_event(logs, "Transfer")
    side_col, flt, cols = _transfer_cols(
        token, tuple(a.lower() for a in excluded_addresses)
    )
    # reference skips the WHOLE transfer if either side is excluded
    # (token_riskpro.py:31-41)
    out = df.select("*", side_col).filter(flt).select(*cols)
    if registered_users is not None:
        users = registered_users.select(
            F.lower(F.col("username")).alias("__u")
        )
        out = out.join(
            F.broadcast(users), out.address == F.col("__u"), "left_semi"
        )
    return out


def enrich_approvals(logs: DataFrame, moc_contract: str) -> DataFrame:
    """Approval rows, only when spender is the MoC contract (P7,
    token_reserve.py:91-93)."""
    df = decode_event(logs, "Approval")
    return (
        df.filter(F.lower(F.col("ev.spender")) == moc_contract.lower())
        .select(
            F.col("transaction_hash").alias("transactionHash"),
            F.lower(F.col("ev.owner")).alias("address"),
            F.col("block_number").alias("blockNumber"),
            F.lit("Approval").alias("event"),
            _wei(F.col("ev.value")).alias("amount"),
            F.col("created_at").alias("createdAt"),
            F.col("log_index").alias("logIndex"),
        )
    )


@lru_cache(maxsize=None)
def _fastbtc_new_cols() -> tuple:
    return (
        F.col("ev.transferId").alias("transferId"),
        F.col("transaction_hash").alias("transactionHash"),
        F.col("block_number").alias("blockNumber"),
        F.lit("PEG_OUT").alias("type"),
        F.col("ev.nonce").alias("nonce"),
        F.col("ev.btcAddress").alias("btcAddress"),
        F.lower(F.col("ev.rskAddress")).alias("rskAddress"),
        _wei(F.col("ev.amountSatoshi")).alias("amountSatoshi"),
        _wei(F.col("ev.feeSatoshi")).alias("feeSatoshi"),
        F.lit(1).cast("bigint").alias("status"),
        F.col("created_at").alias("timestamp"),
        F.col("created_at").alias("updated"),
    )


def enrich_fastbtc_new(logs: DataFrame) -> DataFrame:
    """FastBtcBridge NewBitcoinTransfer -> the insert rows
    (fastbtcbridge.py:58-67)."""
    return decode_event(logs, "NewBitcoinTransfer").select(
        *_fastbtc_new_cols()
    )


def enrich_fastbtc_updates(logs: DataFrame) -> DataFrame:
    """FastBtcBridge BitcoinTransferStatusUpdated -> the update-only rows
    (T6, fastbtcbridge.py:69-78: upsert=False)."""
    return decode_event(logs, "BitcoinTransferStatusUpdated").select(
        *_fastbtc_upd_cols()
    )


@lru_cache(maxsize=None)
def _fastbtc_upd_cols() -> tuple:
    return (
        F.col("ev.transferId").alias("transferId"),
        F.col("transaction_hash").alias("transactionHashLastUpdated"),
        F.col("ev.newStatus").cast("bigint").alias("status"),
        F.col("created_at").alias("updated"),
    )


def enrich_settlement(logs: DataFrame) -> dict[str, DataFrame]:
    """MoCSettlement family (events/mocsettlement.py):
    - SettlementStarted -> settlement_state rows (:36-49)
    - RedeemRequestAlter -> redeem queue deltas with the string-or-bool
      isAddition coercion, F14 (:84-104)
    - RedeemRequestProcessed -> processed notifications (:181-189)
    - SettlementCompleted -> retention-delete trigger rows (T9, :413-429)
    """
    started = decode_event(logs, "SettlementStarted").select(
        F.col("block_number").alias("startBlockNumber"),
        F.lit(True).alias("inProcess"),
        F.col("ev.stableTokenRedeemCount").alias("docRedeemCount"),
        F.col("ev.deleveragingCount").alias("deleveragingCount"),
        _wei(F.col("ev.riskProxPrice")).alias("btcxPrice"),
        _wei(F.col("ev.reservePrice")).alias("btcPrice"),
        F.col("created_at").alias("createdAt"),
    )
    alter = decode_event(logs, "RedeemRequestAlter").select(
        F.col("transaction_hash").alias("transactionHash"),
        F.lower(F.col("ev.redeemer")).alias("address"),
        F.col("block_number").alias("blockNumber"),
        F.lit("RedeemRequestAlter").alias("event"),
        _wei(F.col("ev.delta")).alias("delta"),
        # F14: payload may carry a bool or a 'True'/'False' string
        (F.lower(F.col("ev.isAddition")) == "true").alias("isAddition"),
        F.col("created_at").alias("createdAt"),
        F.col("log_index").alias("logIndex"),
    )
    processed = decode_event(logs, "RedeemRequestProcessed").select(
        F.col("transaction_hash").alias("transactionHash"),
        F.col("log_index").alias("logIndex"),
        F.lit("RedeemRequestProcessed").alias("event"),
        F.lower(F.col("ev.redeemer")).alias("address"),
        _wei(F.col("ev.amount")).alias("amount"),
        F.col("created_at").alias("timestamp"),
    )
    completed = decode_event(logs, "SettlementCompleted").select(
        F.col("block_number").alias("completedBlockNumber"),
        F.col("created_at").alias("completedAt"),
    )
    return {
        "settlement_state": started,
        "redeem_queue": alter,
        "redeem_processed": processed,
        "settlement_completed": completed,
    }


def apply_settlement_retention(
    redeem_queue_tbl, completed: DataFrame, retention_days: int = 31
) -> None:
    """T9 (mocsettlement.py:416-429): on SettlementCompleted, delete redeem
    queue rows at-or-below the completed block AND older than the retention
    window."""
    rows = completed.collect()  # settlement completions are rare singletons
    for r in rows:
        cutoff_ts = r.completedAt - dt.timedelta(days=retention_days)
        redeem_queue_tbl.delete_where(
            (F.col("blockNumber") <= r.completedBlockNumber)
            & (F.col("createdAt") < F.lit(cutoff_ts))
        )


def enrich_inrate(logs: DataFrame) -> DataFrame:
    """MoCInrate RiskProHoldersInterestPay -> BitProHoldersInterest rows
    (events/mocinrate.py:82-102; unique per blockHeight)."""
    return decode_event(logs, "RiskProHoldersInterestPay").select(
        F.col("block_number").alias("blockHeight"),
        _wei(F.col("ev.amount")).alias("amount"),
        _wei(F.col("ev.nReserveBucketC0BeforePay")).alias("nBtcBucketC0BeforePay"),
        F.col("block_ts").alias("timestamp"),
        F.col("created_at").alias("createdAt"),
    )


def enrich_liquidation_notifications(logs: DataFrame) -> DataFrame:
    """BucketLiquidation / ContractLiquidated -> Notification rows
    (events/moc.py:46-58,155-166)."""
    out = None
    for name in ("BucketLiquidation", "ContractLiquidated"):
        part = decode_event(logs, name).select(
            F.col("transaction_hash").alias("transactionHash"),
            F.col("log_index").alias("logIndex"),
            F.lit(name).alias("event"),
            F.col("ev.bucket").alias("bucket"),
            F.col("created_at").alias("timestamp"),
        )
        out = part if out is None else out.unionByName(part)
    return out


@lru_cache(maxsize=None)
def _state_transition_cols() -> tuple:
    mapping = F.create_map(
        *[x for kv in D_STATES.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    return (
        F.col("transaction_hash").alias("transactionHash"),
        F.col("log_index").alias("logIndex"),
        F.lit("StateTransition").alias("event"),
        F.col("ev.newState").alias("newState"),
        F.element_at(mapping, F.col("ev.newState").cast("int")).alias("stateName"),
        F.col("created_at").alias("timestamp"),
    )


def enrich_state_transition(logs: DataFrame) -> DataFrame:
    """StateTransition -> Notification rows with decoded state name
    (mocstate.py:11-37, F13)."""
    df = decode_event(logs, "StateTransition")
    return df.select(*_state_transition_cols())


# The tick outputs the indexer writes, each with the event names whose
# handler gives it rows; a tick builds and upserts an output only when its
# scan holds one of them. A name missing here would lose rows, so the map
# may over-approximate, never under-approximate.
TICK_OUTPUT_EVENTS: dict[str, tuple[str, ...]] = {
    "transactions": EXCHANGE_EVENTS,
    "transfers": ("Transfer",),
    "fastbtc_new": ("NewBitcoinTransfer",),
    "fastbtc_updates": ("BitcoinTransferStatusUpdated",),
    "notifications": ("StateTransition",),
}


def run_event_pipeline(
    raw: DataFrame,
    moc_contract: str = "0x" + "ab" * 20,
    excluded_addresses: tuple[str, ...] = ("0x" + "00" * 20,),
    registered_users: DataFrame | None = None,
    only: tuple[str, ...] | None = None,
    token_contracts: dict[str, str] | None = None,
    approval_contracts: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """One pass: explode logs once, fan out to every handler (J2 demux).

    Returns {sink_name: DataFrame}. Each output is keyed for the upsert
    sink with the reference's unique keys (mongo_manager.py:150-176,265-275).

    `only` limits WHICH handler plans get built (None = all). The plans
    are lazy, but constructing them is driver work — ~12 from_json
    subplans cost several hundred ms of analysis per call, which the
    round-5 ingest profile showed being paid every 3 s tick for outputs
    the cycle never consumed. The indexer tick passes the outputs its
    scan's events feed (`TICK_OUTPUT_EVENTS`).

    `token_contracts` routes Transfers per EMITTING CONTRACT the way the
    reference's map_events does (scan_events_txs.py:147-153: BProToken ->
    RISKPRO rows, DoCToken -> STABLE rows, unmapped contracts skipped):
    a {address: token_name} map fans the transfer handler out per token,
    so a DoC transfer can never land labeled RISKPRO. None (the
    demo/fixture default, where log addresses carry no token identity)
    labels every Transfer RISKPRO as before. `approval_contracts`
    likewise scopes Approval handling to the reference's MoCToken —
    None keeps the spender-only filter.
    """
    logs = explode_logs(raw).filter(F.col("receipt_status") == "confirmed")

    def want(name: str) -> bool:
        return only is None or name in only

    out: dict[str, DataFrame] = {}
    if want("transactions"):
        out["transactions"] = enrich_exchange_all(logs)
    if want("transfers"):
        excl = list(excluded_addresses) + [moc_contract]
        if token_contracts is None:
            out["transfers"] = enrich_transfers(
                logs, "RISKPRO", excl, registered_users
            )
        else:
            parts = [
                enrich_transfers(
                    logs.filter(F.col("contract") == addr.lower()),
                    token, excl, registered_users,
                )
                for addr, token in sorted(token_contracts.items())
            ]
            if not parts:
                # {} is a valid "no tokens watched" config: emit an EMPTY
                # relation with the transfers schema (Catalyst folds the
                # false filter to a LocalRelation — no scan), not an
                # IndexError and not the None-path default token
                parts = [enrich_transfers(
                    logs.filter(F.lit(False)), "RISKPRO", excl,
                    registered_users,
                )]
            transfers = parts[0]
            for p in parts[1:]:
                transfers = transfers.unionByName(p)
            out["transfers"] = transfers
    if want("approvals"):
        alogs = logs
        if approval_contracts is not None:
            alogs = logs.filter(
                F.col("contract").isin(
                    [a.lower() for a in approval_contracts]
                )
            )
        out["approvals"] = enrich_approvals(alogs, moc_contract)
    if want("fastbtc_new"):
        out["fastbtc_new"] = enrich_fastbtc_new(logs)
    if want("fastbtc_updates"):
        out["fastbtc_updates"] = enrich_fastbtc_updates(logs)
    if want("notifications"):
        out["notifications"] = enrich_state_transition(logs)
    if want("holders_interest"):
        out["holders_interest"] = enrich_inrate(logs)
    if want("liquidation_notifications"):
        out["liquidation_notifications"] = enrich_liquidation_notifications(logs)
    settlement_keys = (
        "settlement_state", "redeem_queue", "redeem_processed",
        "settlement_completed",
    )
    if any(want(k) for k in settlement_keys):
        out.update(enrich_settlement(logs))
    return out
