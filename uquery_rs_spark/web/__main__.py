"""CLI entrypoint: python -m uquery_rs_spark.web [options]

Flags/env mirror the reference (src/cli/options.rs:35-112): --port/UQ_PORT,
--addr/UQ_ADDR, --pool-size/UQ_POOL_SIZE, --query-timeout-secs/UQ_QUERY_TIMEOUT
(0 disables), --cors-enabled/UQ_CORS_ENABLED, --allowed-directories/
UQ_ALLOWED_DIRECTORIES. The reference's --db-file (attached read-only
catalog + macro tables) maps to --init-sql: a file of Spark SQL statements
(CREATE TEMPORARY VIEW ..., CREATE TEMPORARY FUNCTION ...) executed at
startup; --tables-dir registers every parquet in a directory as a view.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time


def env_default(name: str, default):
    return os.environ.get(name, default)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser("uquery-spark")
    p.add_argument("--port", type=int, default=int(env_default("UQ_PORT", 8080)))
    p.add_argument("--addr", default=env_default("UQ_ADDR", "0.0.0.0"))
    p.add_argument("--pool-size", type=int, default=int(env_default("UQ_POOL_SIZE", 4)))
    p.add_argument(
        "--query-timeout-secs", type=float, default=float(env_default("UQ_QUERY_TIMEOUT", 30))
    )
    p.add_argument(
        "--cors-enabled", action="store_true", default=bool(env_default("UQ_CORS_ENABLED", ""))
    )
    p.add_argument(
        "--allowed-directories",
        default=env_default("UQ_ALLOWED_DIRECTORIES", os.getcwd()),
        help="comma-separated sandbox roots for path-as-table reads",
    )
    p.add_argument(
        "--db-file",
        default=env_default("UQ_DB_FILE", None),
        help="DuckDB database file attached read-only: its tables, views, "
        "macro tables, and scalar macros become the default query surface "
        "(reference src/cli/options.rs:63-64,183-186)",
    )
    p.add_argument("--init-sql", default=env_default("UQ_INIT_SQL", None))
    p.add_argument("--tables-dir", default=env_default("UQ_TABLES_DIR", None))
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument(
        "--install-extensions",
        action="store_true",
        help="no-op kept for reference CLI parity (src/cli/options.rs:27-33): "
        "Spark connector jars are resolved at build/deploy time, not at runtime",
    )
    # cloud provisioning flags (reference src/cli/options.rs:51-95)
    p.add_argument("--gcs-key-id", default=env_default("UQ_GCS_KEY_ID", None))
    p.add_argument("--gcs-secret", default=env_default("UQ_GCS_SECRET", None))
    p.add_argument(
        "--gcs-credential-chain",
        action="store_true",
        default=bool(env_default("UQ_GCS_CREDENTIAL_CHAIN", "")),
    )
    p.add_argument(
        "--aws-credential-chain",
        action="store_true",
        default=bool(env_default("UQ_AWS_CREDENTIAL_CHAIN", "")),
    )
    p.add_argument(
        "--iceberg-catalog-endpoint", default=env_default("UQ_ICEBERG_CATALOG_ENDPOINT", None)
    )
    p.add_argument("--iceberg-catalog-name", default=env_default("UQ_ICEBERG_CATALOG_NAME", None))
    p.add_argument("--iceberg-user", default=env_default("UQ_ICEBERG_USER", None))
    p.add_argument("--iceberg-secret", default=env_default("UQ_ICEBERG_SECRET", None))
    args = p.parse_args(argv)

    if args.install_extensions:
        # reference: installs DuckDB extensions and exits (main.rs:23-29).
        print("connector jars are build-time dependencies on Spark; nothing to install")
        return 0

    t0 = time.time()
    from ..engine import Engine
    from ..functions import register_sql_macros
    from ..rewrite import SqlRewriter
    from ..session import get_spark
    from .app import ServiceConfig, make_server

    spark = get_spark("uquery-server", cpus=args.cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    register_sql_macros(spark)

    from ..sources.cloud import cloud_spark_conf

    for k, v in cloud_spark_conf(
        gcs_key_id=args.gcs_key_id,
        gcs_secret=args.gcs_secret,
        gcs_credential_chain=args.gcs_credential_chain,
        aws_credential_chain=args.aws_credential_chain,
        ic_catalog_endpoint=args.iceberg_catalog_endpoint,
        ic_catalog_name=args.iceberg_catalog_name,
        ic_user=args.iceberg_user,
        ic_secret=args.iceberg_secret,
    ).items():
        spark.conf.set(k, v)

    if args.tables_dir:
        from ..sources.files import resolve_path

        for fn in sorted(os.listdir(args.tables_dir)):
            if fn.endswith(".parquet"):
                name = fn[: -len(".parquet")]
                resolve_path(spark, os.path.join(args.tables_dir, fn)).createOrReplaceTempView(name)
    if args.init_sql:
        with open(args.init_sql) as f:
            for stmt in f.read().split(";"):
                if stmt.strip():
                    spark.sql(stmt)

    rewriter = SqlRewriter(spark, allowed_dirs=args.allowed_directories.split(","))
    if args.db_file:
        rewriter.attach_db_file(args.db_file)
    engine = Engine(spark, pool_size=args.pool_size, rewriter=rewriter)
    config = ServiceConfig(
        engine, query_timeout_secs=args.query_timeout_secs, cors_enabled=args.cors_enabled
    )
    server = make_server(args.addr, args.port, config)

    # graceful SIGINT/SIGTERM (main.rs:81-105): both interrupt serve_forever
    signal.signal(signal.SIGINT, signal.default_int_handler)
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    port = server.server_address[1]
    print(f"uQuery-spark server started in {time.time() - t0:.2f}s on {args.addr}:{port}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        print("shutting down")
    server.server_close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
