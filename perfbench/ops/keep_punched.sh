#!/bin/sh
# RainStorm exec operator for the benchmark's app1: keeps the lines of
# the batch passed as $1 that contain "Punched" (the reference's op1_t1
# filter) and, when PERFBENCH_EXEC_LOG is set, appends the batch's line
# count to that file so the benchmark can count execs and lines per exec.
# Shell builtins only, so one exec costs one process.
set -f
IFS='
'
n=0
for line in $1; do
  n=$((n + 1))
  case $line in *Punched*) printf '%s\n' "$line" ;; esac
done
if [ -n "${PERFBENCH_EXEC_LOG:-}" ]; then echo "$n" >> "$PERFBENCH_EXEC_LOG"; fi
