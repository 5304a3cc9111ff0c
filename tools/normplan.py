#!/usr/bin/env python3
"""Normalise `graft.PlanDump` output so the plans of two commits can be diffed.

Replaces what differs between two runs of the same code: expression ids,
exchange plan ids, RDD ids, UUIDs, source-line call sites, JVM lambda
names and temp paths.

    python3 tools/normplan.py <dump_dir> <out_dir>
"""
import os, re, sys
SUBS = [
    (re.compile(r'#\d+L?'), '#N'),
    (re.compile(r'plan_id=\d+'), 'plan_id=N'),
    (re.compile(r'RDD\[\d+\]'), 'RDD[N]'),
    (re.compile(r'\bRDD \d+'), 'RDD N'),
    (re.compile(r'[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}'), 'UUID'),
    (re.compile(r'(\w+)\.scala:\d+'), r'\1.scala:N'),
    (re.compile(r'\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+'), '$$Lambda$N'),
    (re.compile(r'(file:)?/tmp/[^\s,\]\)]*'), '/tmp/PATH'),
]
src, dst = sys.argv[1], sys.argv[2]
os.makedirs(dst, exist_ok=True)
for f in sorted(os.listdir(src)):
    s = open(os.path.join(src, f)).read()
    for r, t in SUBS:
        s = r.sub(t, s)
    open(os.path.join(dst, f), 'w').write(s)
