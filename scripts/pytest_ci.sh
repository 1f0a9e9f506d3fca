#!/bin/bash
# CI gate for the Python on-ramp: package the JVM side (the suite puts
# the graft jar on the driver classpath when one exists, so it must not
# be stale), then run the pytest suite (python/test_graft.py) against
# sf0.001.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch package > /dev/null
exec python3 -m pytest python/ -q "$@"
