"""Update tranquility_spark/certified_fingerprints.json for newly certified keys.

Run this when folding a new round's driver-green keys into
``catalog._CERTIFIED`` (in the same commit that edits the ledger). It records
a fingerprint only for a ``_CERTIFIED`` key the file does not hold yet and
drops keys no longer in ``_CERTIFIED``; a recorded fingerprint is never
rewritten. If any recorded fingerprint differs from the entry's current one,
the script names those keys, writes nothing and exits 1: such an entry was
edited since its certification and must be rotated back into the driver
window (removed from ``_CERTIFIED``), not re-recorded.

    python3 scripts/record_certified_fingerprints.py
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tranquility_spark.catalog import _CERTIFIED, certification_fingerprint  # noqa: E402

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tranquility_spark",
    "certified_fingerprints.json",
)


def main() -> int:
    recorded = {}
    if os.path.exists(OUT):
        with open(OUT, encoding="utf-8") as fh:
            recorded = json.load(fh)
    kept = {k: v for k, v in recorded.items() if k in _CERTIFIED}
    stale = sorted(k for k, v in kept.items() if certification_fingerprint(k) != v)
    if stale:
        print(
            "certified entries changed since certification (rotate them out "
            f"of _CERTIFIED, do not re-record): {', '.join(stale)}",
            file=sys.stderr,
        )
        return 1
    added = sorted(set(_CERTIFIED) - set(kept))
    fingerprints = {**kept, **{k: certification_fingerprint(k) for k in added}}
    with open(OUT, "w", encoding="utf-8") as fh:
        json.dump(fingerprints, fh, indent=1, sort_keys=True)
        fh.write("\n")
    dropped = len(recorded) - len(kept)
    print(f"wrote {len(fingerprints)} fingerprints to {OUT} ({len(added)} added, {dropped} dropped)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
