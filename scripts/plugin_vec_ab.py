"""Plug-in vector-spec ingest-scale A/B (VERDICT r11 item 3 / r10
item 7): an 8th protocol registered through `plugins.register_protocol`
WITH `vector_specs`, decoded at ingest scale (470k tx), vectorized
fast path vs per-row Python decoders — the measured half of the claim
the r10/r11 differential tests already pin bit-for-bit.

Self-contained worked example: the protocol below (TestSwap — one
fixed-layout buy instruction with a CPI merge) is the template a user
follows to onboard a protocol the engine doesn't ship; registering
`vector_specs` alongside the per-row decoders is what opts its rows
into the mapInArrow batch decoder.

Method: build decode_input ONCE to parquet so
both arms re-read identical bytes, then alternate vectorized=True/False
runs of the SAME mapInArrow stage in one JVM, best-of-N (gVisor wall
clocks swing; interleaving is the control), plus the in-process
single-core probe with no scan/task noise.

Run: python scripts/plugin_vec_ab.py [n_tx] [reps]  (default 470000 tx)
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F

from solana_event_stream_spark.session import get_spark

TS_PID = "TestSwap1111111111111111111111111111111111"
TS_BUY_DISC = "0102030405060708"
TS_CPI_DISC = "e445a52e51cb9a1d0f0e0d0c0b0a0908"
MINT = "MintAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
USER = "UserBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBB"


def _ts_buy(data, accounts):
    if len(data) < 8 or len(accounts) < 2:
        return None
    return {"amount": int.from_bytes(data[:8], "little"),
            "mint": accounts[0], "user": accounts[1], "ts_flag": True}


def _ts_cpi(body):
    if len(body) < 16:
        return None
    return {"ts_pool_fee": int.from_bytes(body[:8], "little"),
            "amount": int.from_bytes(body[8:16], "little")}


def _vector_specs():
    from solana_event_stream_spark.operators.decode_vec import (
        CpiSpec, InstSpec)
    return {"TestSwapBuy": InstSpec(
        "TestSwapBuy", min_data=8, min_accounts=2,
        nums=(("amount", "u64", 0),),
        accounts=(("mint", "idx", 0), ("user", "idx", 1)),
        consts={"ts_flag": True},
        cpi=CpiSpec("testswap_trade", 16,
                    nums=(("ts_pool_fee", "u64", 0),
                          ("amount", "u64", 8))))}


def _register(with_vec: bool):
    from solana_event_stream_spark.plugins import register_protocol
    return register_protocol(
        name="TestSwap",
        program_id=TS_PID,
        instruction_discriminators={TS_BUY_DISC: "TestSwapBuy"},
        instruction_decoders={"TestSwapBuy": _ts_buy},
        payload_fields={"amount": "u64", "mint": "pk", "user": "pk",
                        "ts_flag": "bool", "ts_pool_fee": "u64"},
        inner_discriminators={TS_CPI_DISC: "testswap_trade"},
        cpi_decoders={"testswap_trade": _ts_cpi},
        merge_specs={"TestSwapBuy": ("testswap_trade",
                                     ["ts_pool_fee", "amount"])},
        vector_specs=_vector_specs() if with_vec else None,
    )


def _plugin_raw(spark, n_tx: int):
    """n_tx copies of one TestSwap buy transaction (instruction + CPI),
    unique signatures/slots — a pure plug-in-protocol feed, so the A/B
    ratio measures the PLUG-IN's decode path, not the builtin mix."""
    from solana_event_stream_spark.schemas import RAW_TRANSACTION_SCHEMA

    ix_buy = {"program_id_index": 2, "account_indices": [0, 1],
              "data": bytes.fromhex(TS_BUY_DISC)
              + (77).to_bytes(8, "little")}
    cpi = {"program_id_index": 2, "account_indices": [],
           "data": bytes.fromhex(TS_CPI_DISC)
           + (5).to_bytes(8, "little") + (99).to_bytes(8, "little")}
    ts = datetime.datetime(2026, 8, 14, tzinfo=datetime.timezone.utc)
    one = spark.createDataFrame([{
        "slot": 900001, "transaction_index": 0, "block_time": ts,
        "signature": "ts_sig_buy", "is_vote": False, "recv_us": 1,
        "static_account_keys": [MINT, USER, TS_PID],
        "loaded_writable_addresses": [], "loaded_readonly_addresses": [],
        "instructions": [ix_buy],
        "inner_instructions": [{"index": 0, "instructions": [cpi]}],
        "source": "ab"}], RAW_TRANSACTION_SCHEMA)
    return (one.crossJoin(spark.range(n_tx)
                          .select(F.col("id").alias("rep")))
            .withColumn("signature", F.concat_ws("_", "signature", "rep"))
            .withColumn("slot", F.col("slot") + F.col("rep"))
            .drop("rep"))


def main():
    n_tx = int(sys.argv[1]) if len(sys.argv) > 1 else 470_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("plugin-vec-ab")
    unregister = _register(with_vec=True)
    try:
        from solana_event_stream_spark.plans.pipeline import (
            _decode_batches, _decode_tables, build_decode_input)

        # plan-build-time registry snapshot (the same capture
        # build_events_core ships): executors import the package fresh,
        # so the plug-in's decoders/specs/schema reach workers ONLY
        # through this closure.
        tables = _decode_tables()

        tmp = tempfile.mkdtemp(prefix="plugin_vec_ab_")
        din_path = os.path.join(tmp, "decode_input")
        (build_decode_input(_plugin_raw(spark, n_tx))
         .repartition(int(spark.conf.get(
             "spark.sql.shuffle.partitions", "32")))
         .write.mode("overwrite").parquet(din_path))
        din = spark.read.parquet(din_path)
        n_rows = din.count()
        print(f"# plugin decode_input rows: {n_rows} ({n_tx} tx)",
              flush=True)

        def run(vectorized: bool) -> float:
            out = din.mapInArrow(
                lambda it: _decode_batches(it, None,
                                           vectorized=vectorized,
                                           tables=tables),
                schema=tables["schema"])
            t0 = time.perf_counter()
            out.select(F.count(F.lit(1))).collect()
            return time.perf_counter() - t0

        # in-process single-core probe: stage-level ratio, no task noise
        tbl = din.limit(400_000).toArrow().combine_chunks()
        batches = tbl.to_batches(max_chunksize=10_000)

        def run_inproc(vectorized: bool) -> float:
            t0 = time.perf_counter()
            nr = 0
            for out in _decode_batches(iter(batches), None,
                                       vectorized=vectorized,
                                       tables=tables):
                nr += out.num_rows
            assert nr > 0
            return time.perf_counter() - t0

        run_inproc(True), run_inproc(False)
        ip = {"vec": [], "py": []}
        for _ in range(reps):
            ip["vec"].append(round(run_inproc(True), 3))
            ip["py"].append(round(run_inproc(False), 3))
        print(json.dumps({
            "probe": "plugin_vec_ab_inproc_1core", "rows": tbl.num_rows,
            "vec_sec": ip["vec"], "py_sec": ip["py"],
            "speedup": round(min(ip["py"]) / min(ip["vec"]), 3),
            "events_per_sec_per_core": round(tbl.num_rows / min(ip["vec"])),
        }), flush=True)

        run(True), run(False)                     # warm both paths
        times = {"vec": [], "py": []}
        for _ in range(reps):
            times["vec"].append(round(run(True), 3))
            times["py"].append(round(run(False), 3))
        best_vec, best_py = min(times["vec"]), min(times["py"])
        print(json.dumps({
            "probe": "plugin_vec_ab", "n_tx": n_tx, "rows": n_rows,
            "vec_sec": times["vec"], "py_sec": times["py"],
            "best_vec": best_vec, "best_py": best_py,
            "speedup": round(best_py / best_vec, 3),
            "events_per_sec_vec": round(n_rows / best_vec),
        }), flush=True)
    finally:
        unregister()


if __name__ == "__main__":
    main()
