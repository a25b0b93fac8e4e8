#!/usr/bin/env python3
"""Assemble the committed PROBES.json (r10 verdict task #7) from the probe
mains' JSON dumps, so the next judge can diff the scale evidence
mechanically instead of re-reading COVERAGE.md prose tables.

Usage:
  python3 tools/build_probes.py PROBES.json round=11 \
      scale=/tmp/probes_scale.json plan_audit=/tmp/probes_audit.json \
      tf_battery=/tmp/tfb.json combined=/tmp/comb.json \
      spill=/tmp/probes_spill.json

Each value is a file holding one JSON object: ScaleProbe and PlanAudit
write theirs under GRAFT_SCALE_JSON / GRAFT_AUDIT_JSON; for the others
save the main's stdout JSON line (`StreamBench tfbattery|combined`).
Sections whose file is missing are skipped with a warning — the artifact
records what was actually measured, never placeholders. The committed
`rule_fanout`, `stream_record` and `stream_e2e` sections are history:
the mains that wrote them (RuleFanoutProbe, StreamBench record/e2e) are
gone, and graftbench/run.py measures the deployed streaming topology.
"""
import json
import sys


def main() -> None:
    dest = sys.argv[1]
    out = {}
    for arg in sys.argv[2:]:
        key, _, val = arg.partition("=")
        if key == "round":
            out["round"] = int(val)
            continue
        try:
            with open(val) as f:
                out[key] = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            print(f"warning: skipping section {key} ({val}): {e}", file=sys.stderr)
    with open(dest, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {dest}: sections {sorted(out)}")


if __name__ == "__main__":
    main()
