#!/usr/bin/env python3
"""Render BASELINE.md's scaling tables from the committed artifacts.

A hand-maintained table drifts from the artifact it claims to render; this
script makes the render mechanical: paste its stdout verbatim.

    tools/render_scaling_table.py [scaling.json ...]

Renders the threads ladder (data/scaling.json, local[k]) and the executors
ladder (data/scaling_mx.json, local-cluster: k 1-core executor JVMs).
`graft.ScalingBench` records give per level the median seconds with q1, q3
and n; older records (per-level `sec_min`, min-merged across harvest runs)
still render, labelled as such.
"""
import json
import os
import sys


def render(path, label):
    d = json.load(open(path))
    lv = {int(l["level"]): l for l in d["levels"]}
    merged = any("sec_min" in l for l in lv.values())
    fp = d.get("fp") or (d["levels"][0].get("fp", "?") if d["levels"] else "?")
    how = "min-merged" if merged else "median of interleaved samples"
    cols = "sec_min" if merged else "sec median [q1, q3] (n)"
    print(f"| Levels ({label}, fp `{fp}`, {how}) | {cols} | tiles/s | efficiency |")
    print("|---|---|---|---|")
    for k in sorted(lv):
        l = lv[k]
        cells = []
        for lo in (1, 2):
            e = d.get(f"efficiency_{lo}_to_{4 * lo}")
            if k == 4 * lo and lo in lv and e is not None:
                cells.append(f"{lo}→{4 * lo} = **{e:.3f}**")
        name = f"local[{k}]" if "threads" in label else f"{k} executor JVMs × 1 core"
        sec = f"{l['sec_min']:.3f}" if merged else \
            f"{l['sec_median']:.3f} [{l['sec_q1']:.3f}, {l['sec_q3']:.3f}] ({l['n']})"
        print(f"| {name} | {sec} | {l['per_sec']:,.0f} | {'; '.join(cells)} |")
    for pair in d.get("skipped", []):
        print(f"| {pair.replace('_to_', '→')} | skipped: does not fit the host | | |")
    c = d.get("pure_cpu_calibration")
    if c:
        effs = [f"{lo}→{4 * lo} = {c[f'efficiency_{lo}_to_{4 * lo}']:.3f}"
                for lo in (1, 2) if f"efficiency_{lo}_to_{4 * lo}" in c]
        cfp = c["levels"][0].get("fp") if c["levels"] else None
        print()
        print("Pure-CPU calibration ceiling (same pinning"
              + (f", fp `{cfp}`" if cfp else "") + "): "
              + (", ".join(effs) or "not run") + ".")


paths = sys.argv[1:] or ["data/scaling.json", "data/scaling_mx.json"]
first = True
for p in paths:
    if not os.path.exists(p):
        continue
    if not first:
        print()
    label = "executors: local-cluster, k JVMs" if "_mx" in os.path.basename(p) \
        else "threads: local[k], 1 JVM"
    render(p, label)
    first = False
