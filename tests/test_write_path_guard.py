"""Each streaming write-path rule has one home module.

Pure text, the same walk as tests/test_locale_guard.py: the dynamic
partition overwrite (and its pre-uppercased locale value) lives in
``streaming/epoch_store.write_partitions``, the ``foreachBatch`` drain in
``streaming/epoch_store.drain`` and the file-source reader in
``streaming/source.file_stream``. A second copy of any of them fails
here by module name.
"""

from __future__ import annotations

import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "hive_plan_service_spark")

RULES = ("partitionOverwriteMode", ".foreachBatch(", ".readStream")


def test_each_write_path_rule_lives_in_one_module():
    homes: dict[str, list[str]] = {rule: [] for rule in RULES}
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            for rule in RULES:
                if rule in text:
                    homes[rule].append(os.path.relpath(path, PKG))
    spread = {rule: sorted(mods) for rule, mods in homes.items() if len(mods) != 1}
    assert not spread, f"each rule must appear in exactly one module: {spread}"
