"""Regenerate the driver order of the query registry (registry/order.py).

The per-round correctness driver checks roughly the FIRST 50 entries of
``queries()``; everything else rides on the full-registry parity sweep. To
keep that window on fresh coverage, this script reads every
``CORRECTNESS_r*.json`` in the repo root and writes ``ORDER`` with the
entries no CORRECTNESS file has checked first, then the checked ones, each
group in its current order. Names new to a family ``QUERIES`` table join the
end of the unchecked group; names no longer in any table are dropped.

Usage (from the repo root):  python scripts/registry_rotation.py [window_size]
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import pkgutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from legal_document_ocr_spark import registry  # noqa: E402
from legal_document_ocr_spark.registry.order import ORDER  # noqa: E402

ORDER_PY = os.path.join(os.path.dirname(registry.__file__), "order.py")


def table_names() -> list[str]:
    names: list[str] = []
    for info in pkgutil.iter_modules(registry.__path__):
        mod = importlib.import_module(f"{registry.__name__}.{info.name}")
        names.extend(getattr(mod, "QUERIES", ()))
    return names


def driver_checked() -> set[str]:
    checked: set[str] = set()
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            checked.update(json.load(fh))
    return checked


def rotate(order: list[str], names: list[str], checked: set[str]) -> list[str]:
    live, known = set(names), set(order)
    base = [n for n in order if n in live] + [n for n in names if n not in known]
    return [n for n in base if n not in checked] + [n for n in base if n in checked]


def main() -> None:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    checked = driver_checked()
    order = rotate(list(ORDER), table_names(), checked)
    with open(ORDER_PY, "w") as fh:
        fh.write(
            '"""Driver order of the query registry.\n\n'
            'Generated by scripts/registry_rotation.py; do not edit by hand.\n"""\n\n'
            "ORDER = (\n" + "".join(f'    "{n}",\n' for n in order) + ")\n"
        )
    backlog = [n for n in order if n not in checked]
    wasted = [n for n in order[:window] if n in checked]
    print(f"wrote {len(order)} names to {os.path.relpath(ORDER_PY, ROOT)}")
    print(f"never driver-checked: {len(backlog)}; "
          f"checked entries inside the first {window}: {len(wasted)}")


if __name__ == "__main__":
    main()
