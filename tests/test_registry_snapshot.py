"""Registry snapshot: ``queries()`` keys, order and callables plus the
``oracle_sql()`` mapping, pinned against a committed golden file.

Each golden entry records the query name, the callable's ``__module__`` and
``__qualname__`` (so aliases such as ``length_ntiles -> q_length_quartiles``
stay visible) and the sha256 of its oracle SQL, or no ``oracle_sha256`` key
when the entry has no oracle. Only the oracle contents are pinned, not the
``oracle_sql()`` key order.

After a deliberate registry change, regenerate the golden file with
``python tests/test_registry_snapshot.py --write`` and review the diff.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "registry_snapshot.json")


def snapshot() -> list[dict]:
    oracles = entrymod.oracle_sql()
    out = []
    for name, fn in entrymod.queries().items():
        row = {"name": name, "module": fn.__module__, "qualname": fn.__qualname__}
        if name in oracles:
            row["oracle_sha256"] = hashlib.sha256(
                oracles[name].encode("utf-8")
            ).hexdigest()
        out.append(row)
    return out


def _golden() -> list[dict]:
    with open(GOLDEN) as fh:
        return json.load(fh)


def test_registry_matches_snapshot():
    got, want = snapshot(), _golden()
    assert [r["name"] for r in got] == [r["name"] for r in want]
    for g, w in zip(got, want):
        assert g == w, g["name"]


def test_oracle_keys_are_exactly_the_snapshot_oracles():
    want = {r["name"] for r in _golden() if "oracle_sha256" in r}
    assert set(entrymod.oracle_sql()) == want


def test_compression_ratio_has_no_oracle():
    assert "compression_ratio" in entrymod.queries()
    assert "compression_ratio" not in entrymod.oracle_sql()


def test_length_ntiles_stays_aliased():
    assert entrymod.queries()["length_ntiles"].__qualname__ == "q_length_quartiles"


if __name__ == "__main__" and sys.argv[1:] == ["--write"]:
    with open(GOLDEN, "w") as fh:
        fh.write("[\n" + ",\n".join(json.dumps(r) for r in snapshot()) + "\n]\n")
