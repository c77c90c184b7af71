#!/usr/bin/env bash
# Counts the chmod, chown, ls and stat processes a command starts.
#
#   tools/forkcount.sh <command...>
#
# Hadoop's local file system, without its native library, sets and reads
# file permissions by running these programs, one process per call. This
# script puts a logging wrapper for each of them first on PATH (in a temp
# dir), runs the command with its own stdout and stderr, then prints one
# "forkcount: <program> <count>" line per program on stderr, removes the
# temp dir and exits with the command's exit code. Only processes that find
# the program through PATH are counted; a JVM's ProcessBuilder does.
#
# Example, one call of one key through graft.Probe:
#   PROBE_REPEATS=1 SPARK_GRAFT_SF_DIR=/path/to/sf0.01 \
#     tools/forkcount.sh java -cp "$CP" graft.Probe stream_bus_sink
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <command...>" >&2
  exit 2
fi
progs="chmod chown ls stat"
dir=$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")
trap 'rm -rf "$dir"' EXIT
log="$dir/calls.log"
: > "$log"
for p in $progs; do
  real=$(command -v "$p") || continue
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$p" "$log" "$real" > "$dir/$p"
  chmod +x "$dir/$p"
done
PATH="$dir:$PATH" "$@"
rc=$?
for p in $progs; do
  echo "forkcount: $p $(grep -cx "$p" "$log")" >&2
done
exit $rc
