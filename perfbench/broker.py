"""The Kafka stand for the benchmark, in a process of its own so its CPU
and memory stay out of the system-under-test figures.

Starts ``tools/kafka_broker.py``'s KafkaCluster, prints its bootstrap
endpoints as one JSON line, and serves until its stdin closes — so it
also ends when the benchmark process dies without cleaning up. A line
``dump <path>`` on stdin pickles every appended record, as
``{topic: [(partition, offset, key, value), ...]}``, to ``path`` and
answers ``ok``: the check reads the broker's logs without a consumer.

    python3 perfbench/broker.py --brokers 3 --partitions 8
"""

from __future__ import annotations

import argparse
import json
import pickle
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from kafka_broker import KafkaCluster  # noqa: E402


def dump(cluster: KafkaCluster, path: str) -> None:
    logs: dict[str, list] = {}
    with cluster._lock:
        for (topic, pid), log in cluster._logs.items():
            logs.setdefault(topic, []).extend(
                (pid, off, key, value) for off, _ts, key, value in log.records)
    with open(path, "wb") as fh:
        pickle.dump(logs, fh, protocol=pickle.HIGHEST_PROTOCOL)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--brokers", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=8)
    args = ap.parse_args()
    cluster = KafkaCluster(n_brokers=args.brokers, n_partitions=args.partitions).start()
    try:
        print(json.dumps(cluster.bootstrap()), flush=True)
        for line in sys.stdin:  # EOF: the parent closed the pipe or died
            cmd, _, path = line.strip().partition(" ")
            if cmd == "dump":
                dump(cluster, path)
                print("ok", flush=True)
    finally:
        cluster.stop()


if __name__ == "__main__":
    main()
