"""Fold driver-green keys into tranquility_spark/certified_fingerprints.json.

The JSON is the certification ledger: its keys are the certified catalog
entries (``catalog._CERTIFIED``), each mapped to the fingerprint of the
definition the driver certified. This script records the current fingerprint
of each named key. It writes nothing and exits 1 if a named key is unknown or
already recorded, or if any recorded fingerprint is stale: a stale entry was
edited since its certification and must be rotated out (delete its line), not
re-recorded.

    python3 scripts/record_certified_fingerprints.py KEY [KEY ...]
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tranquility_spark.catalog import _LEDGER, CATALOG, certification_fingerprint  # noqa: E402

OUT = _LEDGER


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("keys", nargs="+", metavar="KEY", help="driver-green catalog key to fold")
    keys = list(dict.fromkeys(ap.parse_args(argv).keys))
    with open(OUT, encoding="utf-8") as fh:
        recorded = json.load(fh)
    stale = sorted(
        k for k, v in recorded.items() if k not in CATALOG or certification_fingerprint(k) != v
    )
    refused = [
        ("unknown keys", [k for k in keys if k not in CATALOG]),
        ("already recorded", [k for k in keys if k in recorded]),
        ("certified entries changed since certification (rotate them out: "
         "delete their lines, do not re-record)", stale),
    ]
    refused = [(why, ks) for why, ks in refused if ks]
    for why, ks in refused:
        print(f"{why}: {', '.join(ks)}", file=sys.stderr)
    if refused:
        return 1
    recorded.update({k: certification_fingerprint(k) for k in keys})
    with open(OUT, "w", encoding="utf-8") as fh:
        json.dump(recorded, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(recorded)} fingerprints to {OUT} ({len(keys)} added)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
