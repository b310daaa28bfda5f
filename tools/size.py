#!/usr/bin/env python3
"""Print the engine's size: main LoC (lines of src/main/scala/**/*.scala)
and the number of distinct "spark.graft.*" conf keys named there.

Usage: python3 tools/size.py [repo root, default: this script's parent]
"""
import pathlib
import re
import sys

root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else pathlib.Path(__file__).parent.parent)
files = sorted((root / "src/main/scala").rglob("*.scala"))
texts = [f.read_text(encoding="utf-8") for f in files]
loc = sum(t.count("\n") for t in texts)
knobs = sorted({k for t in texts for k in re.findall(r'"(spark\.graft\.[A-Za-z0-9_.]+)"', t)})
print(f"main LoC: {loc}")
print(f"spark.graft.* knobs: {len(knobs)}")
for k in knobs:
    print(f"  {k}")
