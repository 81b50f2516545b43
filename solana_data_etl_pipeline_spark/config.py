"""Env-var configuration with defaults.

Parity with reference src/config.rs:1-94 (same defaults for every knob
the engine reads);
`Config.load()` mirrors the reference's behavior of returning env-var
defaults (reference src/config.rs:89-94 ignores files too).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_int(key: str, default: int) -> int:
    try:
        return int(os.environ.get(key, default))
    except ValueError:
        return default


@dataclass
class RpcConfig:
    """reference src/config.rs:36-53."""

    url: str = field(default_factory=lambda: os.environ.get("SOLANA_RPC_URL", "https://api.mainnet-beta.solana.com"))
    max_retries: int = field(default_factory=lambda: _env_int("ALCHEMY_MAX_RETRIES", 5))
    timeout_seconds: int = field(default_factory=lambda: _env_int("ALCHEMY_TIMEOUT_SECONDS", 30))
    rate_limit_per_second: int = field(default_factory=lambda: _env_int("ALCHEMY_RATE_LIMIT", 50))


@dataclass
class WarehouseConfig:
    """reference src/config.rs:55-62; sink_type dispatch src/warehouse.rs:30-39."""

    sink_type: str = field(default_factory=lambda: os.environ.get("WAREHOUSE_SINK", "parquet"))
    path: str = field(default_factory=lambda: os.environ.get("WAREHOUSE_PATH", "./warehouse"))
    # JDBC variant (reference primary sink, src/warehouse.rs:201-249):
    # when a URL is configured, 'postgres'/'jdbc' dispatch to
    # JdbcWarehouse instead of the parquet sink.
    jdbc_url: str = field(default_factory=lambda: os.environ.get("WAREHOUSE_JDBC_URL", ""))
    jdbc_driver: str = field(default_factory=lambda: os.environ.get("WAREHOUSE_JDBC_DRIVER", ""))
    jdbc_table: str = field(default_factory=lambda: os.environ.get("WAREHOUSE_JDBC_TABLE", "fact_events"))


@dataclass
class EtlConfig:
    """reference src/config.rs:72-79. The reference's batch size,
    checkpoint interval and max slot lag have no counterpart: Spark
    writes each chunk as one batch and checkpoints once per chunk."""

    backfill_chunk_size: int = field(default_factory=lambda: _env_int("ETL_BACKFILL_CHUNK_SIZE", 1000))
    interval_seconds: int = field(default_factory=lambda: _env_int("ETL_INTERVAL_SECONDS", 30))


@dataclass
class Config:
    rpc: RpcConfig = field(default_factory=RpcConfig)
    warehouse: WarehouseConfig = field(default_factory=WarehouseConfig)
    etl: EtlConfig = field(default_factory=EtlConfig)

    @classmethod
    def load(cls) -> "Config":
        return cls()
