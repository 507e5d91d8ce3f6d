"""Snapshot the rendered registry surface for the plans/oracles split.

Writes tests/fixtures/registry_snapshot.json capturing EVERYTHING the
r10 verdict's item #2 requires to stay byte-identical across the
plans/registry.py -> plans/oracles/ package refactor:

- the QUERIES key order and each builder's __name__,
- the ORACLES key order and the sha256 of every rendered oracle SQL
  string.

First generated from the PRE-refactor single-file registry so the
split could be proven byte-identical;
tests/test_oracle_parity.py::test_registry_snapshot_is_byte_identical
asserts the live registry still renders exactly this surface. On any
LEGITIMATE registry change (a new registration, a re-planned oracle),
re-run this script and commit the refreshed fixture IN THE SAME COMMIT
— the guard exists to catch accidental rendering drift, not to freeze
the registry (same policy as stated in plans/registry.py's docstring).
"""

import hashlib
import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from etl_visualization_of_cryptocurrency_trading_data_spark.plans import registry  # noqa: E402


def sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


snap = {
    "queries_order": list(registry.QUERIES),
    "builder_names": {k: fn.__name__ for k, fn in registry.QUERIES.items()},
    "oracles_order": list(registry.ORACLES),
    "oracle_sha256": {k: sha(v) for k, v in registry.ORACLES.items()},
}

out = pathlib.Path(__file__).resolve().parents[1] / "tests" / "fixtures"
out.mkdir(exist_ok=True)
(out / "registry_snapshot.json").write_text(json.dumps(snap, indent=1) + "\n")
print(
    f"wrote {out/'registry_snapshot.json'}: "
    f"{len(snap['queries_order'])} queries, {len(snap['oracles_order'])} oracles"
)
