"""Block -> canonical-event parsing (reference T-layer).

Reimplements the reference's parser semantics (reference
src/parsers.rs:10-242) as one declarative explode/union plan instead of
row-at-a-time Rust:

- T1  parse_block      -> explode(transactions) with per-record
                          tolerance (malformed rows become NULLs and are
                          filtered, mirroring warn-and-continue at
                          src/parsers.rs:22-26)
- T2  block time       -> timestamp_seconds(blockTime) (src/parsers.rs:33-41)
- T3  parse_transaction-> three branches unioned: 1 tx event
                          (instruction_index = -1, src/parsers.rs:73),
                          N instruction events, M token transfers
- T4  signature        -> signatures[0] (src/parsers.rs:103-110)
- T5/T6 instructions   -> posexplode + token/program classification by
                          program id (src/parsers.rs:122-160; token ids
                          src/parsers.rs:6-7)
- T7  token transfers  -> posexplode(meta.postTokenBalances) keeping
                          entries with a mint; program_id forced to the
                          Token program (src/parsers.rs:163-203, :193)
- T8  flatten          -> identity normalizer (src/parsers.rs:206-222)
- T9  extract_wallets  -> accountKeys[] pubkey-or-string coercion
                          (src/parsers.rs:225-242)
- T10 event_id         -> sha256("slot:sig:idx:type") (src/events.rs:76-86)
- T11 success flag     -> meta.err IS NULL (src/parsers.rs:59-62)

Scale notes: the plan is scan -> explode -> narrow projections -> union;
no shuffle at all until the sink's dedup. Explodes multiply rows but
stay pipelined inside whole-stage codegen; the three branches share the
single scan of the block DataFrame (Spark reuses the exchange-free
subplan per branch at runtime cost of re-reading the cached/scanned
input -- cache upstream when parsing the same batch repeatedly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.schemas import (
    CANONICAL_EVENT_SCHEMA,
    TOKEN_PROGRAM_ID,
    TOKEN_PROGRAM_IDS,
)

_CANONICAL_COLS = [f.name for f in CANONICAL_EVENT_SCHEMA.fields]


def _event_id(slot: Column, sig: Column, idx: Column, etype: Column) -> Column:
    """T10: deterministic replay key (reference src/events.rs:76-86)."""
    return F.sha2(
        F.concat_ws(":", slot.cast("string"), sig, idx.cast("string"), etype),
        256,
    )


def _block_time(block_time_secs: Column) -> Column:
    """T2: unix seconds -> UTC wall-clock (reference src/parsers.rs:33-41)."""
    return F.timestamp_seconds(block_time_secs).cast("timestamp_ntz")


def _finish(df: DataFrame) -> DataFrame:
    """Project to the canonical column set (missing -> NULL), typed."""
    cols = []
    present = set(df.columns)
    for field in CANONICAL_EVENT_SCHEMA.fields:
        if field.name in present:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def extract_wallets(blocks: DataFrame) -> DataFrame:
    """T9: all accountKeys as plain strings, one row per (slot, wallet).

    Tolerates both encodings the reference handles
    (src/parsers.rs:232-236): the jsonParsed object form
    ({pubkey, signer, writable}) and the raw string form -- decided by
    the DataFrame's actual schema, not per row (a column has one type).
    """
    keys = F.col("tx.transaction.message.accountKeys")
    kind = blocks.schema["transactions"].dataType.elementType["transaction"].dataType["message"].dataType[
        "accountKeys"
    ].dataType.elementType
    from pyspark.sql.types import StructType

    wallets = keys.getField("pubkey") if isinstance(kind, StructType) else keys
    return (
        blocks.select(F.col("slot"), F.explode("transactions").alias("tx"))
        .select("slot", F.explode(wallets).alias("wallet"))
        .filter(F.col("wallet").isNotNull())
    )


def _exploded_txs(blocks: DataFrame) -> DataFrame:
    """T1: one row per (slot, transaction envelope), with the shared
    per-tx fields every branch needs."""
    base = blocks.select(
        F.col("slot"),
        _block_time(F.col("blockTime")).alias("block_time"),
        F.explode(F.col("transactions")).alias("tx"),
    )
    return base.select(
        "slot",
        "block_time",
        "tx",
        F.col("tx.transaction.signatures").getItem(0).alias("tx_signature"),  # T4
        F.col("tx.transaction.message.accountKeys.pubkey").alias("account_keys"),
        F.col("tx.meta.err").isNull().alias("success"),  # T11
    ).filter(
        # per-record tolerance: a tx without a signature is skipped with
        # a warning in the reference (src/parsers.rs:83-91); here the
        # malformed row is filtered out of the batch.
        F.col("tx_signature").isNotNull()
    )


def _tx_events(txs: DataFrame) -> DataFrame:
    """T3 branch 1: one 'transaction' event per tx (instruction_index -1)."""
    etype = F.lit("transaction")
    idx = F.lit(-1)
    return txs.select(
        _event_id(F.col("slot"), F.col("tx_signature"), idx, etype).alias("event_id"),
        "slot",
        "block_time",
        "tx_signature",
        idx.alias("instruction_index"),
        etype.alias("event_type"),
        F.col("account_keys").getItem(0).alias("wallet"),
        F.col("account_keys").getItem(0).alias("fee_payer"),
        F.col("tx.meta.fee").alias("transaction_fee"),
        "success",
        F.col("tx.meta.err").alias("error_message"),
        F.to_json(F.col("tx")).alias("raw_payload"),
    )


def _instruction_events(txs: DataFrame) -> DataFrame:
    """T3 branch 2 / T5 / T6: one event per instruction, classified as
    token_instruction vs program_instruction by program id."""
    exploded = txs.select(
        "slot",
        "block_time",
        "tx_signature",
        "account_keys",
        "success",
        F.col("tx.meta.logMessages").alias("log_messages"),
        F.posexplode(F.col("tx.transaction.message.instructions")).alias("instruction_index", "ins"),
    )
    etype = F.when(F.col("ins.programId").isin(TOKEN_PROGRAM_IDS), F.lit("token_instruction")).otherwise(
        F.lit("program_instruction")
    )
    return exploded.select(
        _event_id(F.col("slot"), F.col("tx_signature"), F.col("instruction_index"), etype).alias("event_id"),
        "slot",
        "block_time",
        "tx_signature",
        F.col("ins.programId").alias("program_id"),
        "instruction_index",
        etype.alias("event_type"),
        F.col("account_keys").getItem(0).alias("wallet"),
        "success",
        F.col("ins.accounts").alias("accounts"),
        F.col("ins.data").alias("data_hex"),
        "log_messages",
        F.to_json(F.col("ins")).alias("raw_payload"),
    )


def _token_transfer_events(txs: DataFrame) -> DataFrame:
    """T3 branch 3 / T7: one 'token_transfer' per postTokenBalance entry
    carrying a mint; program_id hard-set to the Token program
    (reference src/parsers.rs:193; simplified pre/post matching per
    src/parsers.rs:179-183 -- post balances only)."""
    exploded = txs.select(
        "slot",
        "block_time",
        "tx_signature",
        "success",
        F.posexplode(F.col("tx.meta.postTokenBalances")).alias("instruction_index", "bal"),
    ).filter(F.col("bal.mint").isNotNull())
    etype = F.lit("token_transfer")
    return exploded.select(
        _event_id(F.col("slot"), F.col("tx_signature"), F.col("instruction_index"), etype).alias("event_id"),
        "slot",
        "block_time",
        "tx_signature",
        F.lit(TOKEN_PROGRAM_ID).alias("program_id"),
        "instruction_index",
        etype.alias("event_type"),
        "success",
        F.col("bal.mint").alias("token_mint"),
        F.col("bal.owner").alias("to_wallet"),
        F.col("bal.uiTokenAmount.amount").alias("token_amount"),
        F.col("bal.uiTokenAmount.decimals").alias("decimals"),
        F.to_json(F.col("bal")).alias("raw_payload"),
    )


def parse_blocks(blocks: DataFrame) -> DataFrame:
    """Full T-layer: block DataFrame (BLOCK_SCHEMA) -> canonical events
    (CANONICAL_EVENT_SCHEMA). flatMap semantics of the reference's
    parse_block/parse_transaction expressed as three exploded branches
    unioned by name."""
    txs = _exploded_txs(blocks)
    return (
        _finish(_tx_events(txs))
        .unionByName(_finish(_instruction_events(txs)))
        .unionByName(_finish(_token_transfer_events(txs)))
    )
