"""Seeded Unity raw-export tree for the ``ingest_sweep`` workload.

Writes the reference layout ``<root>/<app>/<report>/<date>_<job>/part-N.json.gz``
for every tenant x report type x export job, with report volumes skewed the
way a game's telemetry is (``appRunning`` heartbeats dwarf ``deviceInfo``)
and a few truncated lines that a permissive JSON reader must survive.

The same seed always gives byte-identical files.  The manifest returned by
:func:`generate` is what the benchmark checks the warehouse against; the
program under test only ever sees the files.

Run standalone to inspect a tree::

    python3 perfbench/exportgen.py --root /tmp/export --seed 1
"""

import argparse
import gzip
import json
import os
import random

# (report type, share of the events); the five types the reference exports.
REPORTS = (
    ("appRunning", 0.55),
    ("appStart", 0.20),
    ("custom", 0.13),
    ("transaction", 0.09),
    ("deviceInfo", 0.03),
)
TENANTS = 1
JOBS_PER_CHAIN = 2
PARTS_PER_JOB = 2
# Roughly 200 bytes of NDJSON per event; ~6 MB per tree.
DEFAULT_EVENTS = 30_000
PLATFORMS = ("ios", "android", "webgl", "windows")
SDKS = ("4.2.0", "4.3.1", "5.0.0")
CURRENCIES = ("USD", "EUR", "JPY", "BRL")


def _record(rng, app_id, report, day, job_id, i):
    sec = rng.randrange(86_400)
    rec = {
        "ts": "2024-03-%02d %02d:%02d:%02d" % (day, sec // 3600, sec // 60 % 60, sec % 60),
        "appid": app_id,
        "type": report,
        "userid": "u%06d" % rng.randrange(50_000),
        "sessionid": "s%d_%d" % (job_id, i),
        "platform": rng.choice(PLATFORMS),
        "sdk_ver": rng.choice(SDKS),
        "debug": rng.random() < 0.02,
    }
    if report == "custom":
        rec["custom_params"] = json.dumps(
            {"level": rng.randrange(1, 80), "event": "lvl_%d" % rng.randrange(12)})
    elif report == "transaction":
        rec["amount"] = round(rng.uniform(0.5, 99.99), 2)
        rec["currency"] = rng.choice(CURRENCIES)
    return json.dumps(rec, separators=(",", ":"))


def generate(root, seed, events=DEFAULT_EVENTS, n_tenants=TENANTS, jobs=JOBS_PER_CHAIN):
    """Write the tree under ``root`` and return its manifest."""
    rng = random.Random(seed)
    tenants = [
        {"app_id": "%08x-%04x-4%03x-a%03x-%012x" % (
            rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(12),
            rng.getrandbits(12), rng.getrandbits(48)),
         "dataset": "tenant_%d" % t}
        for t in range(n_tenants)
    ]
    chains = []
    ndjson_bytes = 0
    corrupt = 0
    for t, tenant in enumerate(tenants):
        for r, (report, share) in enumerate(REPORTS):
            per_part = max(10, int(events * share / (n_tenants * jobs * PARTS_PER_JOB)))
            job_id = 1000 * (t * len(REPORTS) + r + 1) + rng.randrange(100)
            lines = 0
            for j in range(jobs):
                job_id += 1 + rng.randrange(5)
                day = 1 + j
                job_dir = os.path.join(root, tenant["app_id"], report,
                                       "2024-03-%02d_%d" % (day, job_id))
                os.makedirs(job_dir)
                for p in range(PARTS_PER_JOB):
                    n = per_part + rng.randrange(-per_part // 10, per_part // 10 + 1)
                    body = [_record(rng, tenant["app_id"], report, day, job_id, i)
                            for i in range(n)]
                    # One part in five carries a line cut off mid-write.
                    if rng.random() < 0.2:
                        cut = body[rng.randrange(n)]
                        body.insert(rng.randrange(n), cut[: len(cut) // 2])
                        corrupt += 1
                    data = ("\n".join(body) + "\n").encode()
                    ndjson_bytes += len(data)
                    lines += len(body)
                    path = os.path.join(job_dir, "part-%d.json.gz" % p)
                    with open(path, "wb") as raw:
                        # mtime=0 keeps the gzip header, and so the bytes, seed-stable.
                        with gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=1, mtime=0) as gz:
                            gz.write(data)
            chains.append({"app_id": tenant["app_id"], "report": report,
                           "lines": lines, "last_job": job_id})
    return {
        "export_root": root,
        "tenants": tenants,
        "report_types": [name for name, _ in REPORTS],
        "chains": chains,
        "lines": sum(c["lines"] for c in chains),
        "corrupt_lines": corrupt,
        "ndjson_bytes": ndjson_bytes,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    manifest = generate(args.root, args.seed)
    print(json.dumps({k: v for k, v in manifest.items() if k != "chains"}))


if __name__ == "__main__":
    main()
