#!/usr/bin/env bash
# Build the optional C accelerators (pure optimizations; the engine falls
# back to the byte-equivalent Python paths when absent):
#   fasttree.c  — tokenizer Data-state scanner, tree-builder InBody token
#                 applier, text and span walkers
#   fastser.c   — pretty-print HTML serializer
set -euo pipefail
cd "$(dirname "$0")/.."
INC=$(python3 -c "import sysconfig; print(sysconfig.get_paths()['include'])")
EXT=$(python3 -c "import sysconfig; print(sysconfig.get_config_var('EXT_SUFFIX'))")
gcc -O2 -fPIC -shared -I"$INC" jsoup_spark/_native/fasttree.c \
    -o "jsoup_spark/_native/jsoup_fasttree${EXT}"
gcc -O2 -fPIC -shared -I"$INC" jsoup_spark/_native/fastser.c \
    -o "jsoup_spark/_native/jsoup_fastser${EXT}"
echo "built jsoup_spark/_native/jsoup_fasttree${EXT} + jsoup_fastser${EXT}"
