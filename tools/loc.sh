#!/usr/bin/env bash
# Non-blank Scala line counts of main and test code, the size ROADMAP
# aim 2 tracks.
# Usage: tools/loc.sh [repo-root]     count a checkout (default: this one)
#        tools/loc.sh --rev <git-rev> count a revision of this repository,
#                                     extracted with `git archive` into a
#                                     temporary directory
set -euo pipefail
here="$(cd "$(dirname "$0")/.." && pwd)"
if [ "${1:-}" = "--rev" ]; then
  rev="${2:?usage: tools/loc.sh --rev <git-rev>}"
  root="$(mktemp -d)"
  trap 'rm -rf "$root"' EXIT
  git -C "$here" archive "$rev" src | tar -x -C "$root"
else
  root="${1:-$here}"
fi
count() {
  find "$root/$1" -name '*.scala' -type f -print0 \
    | xargs -0 -r cat | grep -c -v '^[[:space:]]*$' || true
}
echo "main $(count src/main)"
echo "test $(count src/test)"
