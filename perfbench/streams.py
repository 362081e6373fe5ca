"""Seeded workload inputs: query orders and transaction streams.

Everything the engine receives in a timed window is generated here from the
`--seed` argument; the same seed always gives the same files.
"""
import os
import random

# SparkEntry.benchNames; the harness refuses a pass that is not a
# permutation of its own list, so the two cannot drift apart silently.
HEADLINE = [
    "agg_pricing_summary", "tpch_q3_shipping_priority", "tpch_q4_order_priority",
    "tpch_q5_local_supplier", "tpch_q6_forecast_revenue", "tpch_q10_returned_items",
    "tpch_q14_promo_effect", "tpch_q18_large_volume", "tpch_q19_disjunction",
    "agg_count_distinct", "events_hourly", "ssb_q1_1", "ssb_q2_1", "ssb_q3_1",
    "ssb_q4_1", "tpcds_q5_rollup_channels", "tpcds_q88_time_bands",
    "dedup_minhash_lsh", "cur_dedup_cluster"]

# TpccBench's 25-transaction block, in its order: 11 NewOrder, 11 Payment,
# then one each of OrderStatus, Delivery and StockLevel (the 45/43/4/4/4
# mix). The harness compacts every 5 transactions, so a block is a whole
# number of compaction cycles and every block costs the same; the seed draws
# the customer keys.
TXN_BLOCK = ["new_order"] * 11 + ["payment"] * 11 + ["order_status", "delivery", "stock_level"]
TXN_KEYS = (7, 197)   # customer keys drawn for each transaction
TXN_LENGTH = 6000
OLAP_PASSES = 8


def olap_passes(seed, n=OLAP_PASSES):
    rng = random.Random(seed)
    passes = []
    for _ in range(n):
        order = list(HEADLINE)
        rng.shuffle(order)
        passes.append(order)
    return passes


def txn_stream(seed, length=TXN_LENGTH):
    """TXN_BLOCK repeated, each transaction with a seeded customer key."""
    rng = random.Random(seed)
    return [(TXN_BLOCK[i % len(TXN_BLOCK)], rng.randrange(*TXN_KEYS)) for i in range(length)]


def _write(path, lines):
    with open(path, "w") as f:
        f.write("".join(f"{line}\n" for line in lines))


def write_inputs(workload, seed, directory):
    """Write the harness's input files for `workload` into `directory`."""
    os.makedirs(directory, exist_ok=True)
    if workload == "olap_headline":
        _write(os.path.join(directory, "passes.txt"), (" ".join(p) for p in olap_passes(seed)))
    elif workload == "txn_mixed":
        _write(os.path.join(directory, "txns.txt"), (f"{p} {k}" for p, k in txn_stream(seed)))
    else:
        raise ValueError(f"unknown workload {workload}")
