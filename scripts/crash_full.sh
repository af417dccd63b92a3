#!/usr/bin/env bash
# Full-coverage crash/replay property: every store's generated crash
# interleavings at 110 cases each (the default suite runs a 30-case
# prefix of the same seeded sequence). Run from the repo root:
#   scripts/crash_full.sh
set -euo pipefail
cd "$(dirname "$0")/.."
GRAFT_CRASH_CASES=110 exec sbt --batch "testOnly graft.ModelStoreCrashSpec"
