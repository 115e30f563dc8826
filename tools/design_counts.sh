#!/bin/bash
# Prints the design counts ROADMAP direction 2 wants to fall: main Scala
# lines (total and per package), SparkSession.builder sites, distinct
# env/property names read in src/main, localCheckpoint sites,
# createTempDirectory sites, `new LinearSVC()` sites, the public scoring
# methods of the SV model (`def predict*` in IcfSvm.scala), the `join(`
# sites of the PSVM fits (`IcfSvmTrainer` and `fitIpm`), the line
# count of SparkEntry.scala, the reads through Spark's `libsvm` source in
# src/main, the typed-Dataset (`.as[`) sites of IcfSvm.scala, the
# 4-partner block kernels (`def four`) of Kernels.scala, the per-pair
# `StrictMath.exp` calls in the `Kernel` panel forms, and the
# `treeAggregate` sites of the PSVM solver and trainer (Ipm.scala,
# IcfSvm.scala).
#
# Usage: tools/design_counts.sh [repo-root]   (default: this checkout)
set -euo pipefail
root="${1:-$(dirname "$0")/..}"
cd "$root"
main=src/main/scala

count() { { grep -rE "$1" "${@:2}" --include='*.scala' || true; } | wc -l; }

echo "main_scala_loc $(find "$main" -name '*.scala' -print0 | xargs -0 cat | wc -l)"
for d in $(find "$main" -name '*.scala' -printf '%h\n' | sort -u); do
  echo "main_scala_loc[${d#"$main"/}] $(find "$d" -maxdepth 1 -name '*.scala' -print0 | xargs -0 cat | wc -l)"
done
echo "spark_session_builder_sites $(count 'SparkSession\.builder' src)"
names=$({ grep -rhoE '(sys\.env(\.get|\.getOrElse)?|System\.getenv|sys\.props(\.get|\.getOrElse)?|System\.getProperty)\(\s*"[^"]+"' \
  "$main" --include='*.scala' || true; } | sed -E 's/.*"([^"]+)"/\1/' | sort -u)
echo "env_property_names $(printf '%s' "$names" | grep -c . || true)"
echo "local_checkpoint_sites[main] $(count 'localCheckpoint' "$main")"
echo "local_checkpoint_sites[test] $(count 'localCheckpoint' src/test)"
echo "create_temp_directory_sites[main] $(count 'createTempDirectory' "$main")"
echo "create_temp_directory_sites[test] $(count 'createTempDirectory' src/test)"
echo "new_linear_svc_sites $(count 'new LinearSVC\(\)' "$main")"
echo "icf_svm_scoring_modes $(count '^ *def predict' "$main/graft/ml/IcfSvm.scala")"
fit_joins=$({ awk '/^object IcfSvmTrainer/,/^}/' "$main/graft/ml/IcfSvm.scala"
  awk '/def fitIpm\(/ { on = 1 } on { print } on && /^  }$/ { on = 0 }' "$main/graft/ml/KernelSvm.scala"
} | grep -c 'join(' || true)
echo "psvm_fit_joins $fit_joins"
echo "spark_entry_loc $(wc -l < "$main/graft/SparkEntry.scala")"
echo "libsvm_source_sites $(count 'format\("libsvm"\)' "$main")"
echo "svm_typed_dataset_sites $(count '\.as\[' "$main/graft/ml/IcfSvm.scala")"
echo "kernel_block_forms $(count 'def four' "$main/graft/ml/Kernels.scala")"
panel_exp=$(awk '/def apply\(a: Array\[Double\], p: Panel, out: Array\[Double\]\): Unit = \{/ { on = 1; next }
  on && /^    }$/ { on = 0 } on' "$main/graft/ml/Kernels.scala" | grep -c 'StrictMath\.exp' || true)
echo "panel_strictmath_exp $panel_exp"
echo "psvm_tree_aggregates $(count 'treeAggregate\(' "$main/graft/ml/Ipm.scala" "$main/graft/ml/IcfSvm.scala")"
