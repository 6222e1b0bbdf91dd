#!/usr/bin/env bash
# Non-blank Scala line counts of main and test code, the size ROADMAP
# aim 2 tracks. Usage: tools/loc.sh [repo-root]  (default: this checkout)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
count() {
  find "$root/$1" -name '*.scala' -type f -print0 \
    | xargs -0 -r cat | grep -c -v '^[[:space:]]*$' || true
}
echo "main $(count src/main)"
echo "test $(count src/test)"
