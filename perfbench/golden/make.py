#!/usr/bin/env python3
"""Write golden/fingerprints.json from a traced batch run and an oracle log.

    python3 perfbench/golden/make.py QUERIES_JSONL ORACLE_LOG > perfbench/golden/fingerprints.json

QUERIES_JSONL is queries.jsonl from `run.py --workload batch_surface
--trace 1 --out DIR` (row count and fingerprint per query). ORACLE_LOG is
the output of tools/check_oracle.py over graft.Verify's dump of the same
corpus; only queries it reports as "OK" get a golden.
"""
import json
import re
import sys


def main(queries_jsonl, oracle_log):
    with open(oracle_log) as f:
        verified = {m.group(1): int(m.group(2)) for m in
                    re.finditer(r"^OK\s+(\S+): (\d+) rows", f.read(), re.M)}
    golden = {}
    with open(queries_jsonl) as f:
        for line in f:
            q = json.loads(line)
            name = q["query"]
            if q.get("ok") and name in verified:
                if q["rows"] != verified[name]:
                    sys.exit(f"{name}: {q['rows']} rows here, {verified[name]} in the oracle check")
                golden[name] = {"hash": q["hash"], "rows": q["rows"]}
    print(json.dumps(golden, sort_keys=True, separators=(",", ":")))


if __name__ == "__main__":
    main(*sys.argv[1:])
