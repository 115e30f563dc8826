#!/bin/bash
# Prints the design counts ROADMAP direction 2 wants to fall: main Scala
# lines (total and per package), SparkSession.builder sites, distinct
# env/property names read in src/main, localCheckpoint sites, the
# `.persist(` and `.unpersist(` lines of src/main (`graft.Materialize`
# owns the eager checkpoints and the scoped caches; what is left is named
# in CHANGES.md), createTempDirectory sites, `new LinearSVC()` sites, the public scoring
# methods of the SV model (`def predict*` in IcfSvm.scala), the `join(`
# sites of the PSVM fits (`IcfSvmTrainer` and `fitIpm`), the line
# count of SparkEntry.scala, the reads through Spark's `libsvm` source in
# src/main, the typed-Dataset (`.as[`) sites of IcfSvm.scala, the
# 4-partner block kernels (`def four`) of Kernels.scala, the per-pair
# `StrictMath.exp` calls in the `Kernel` panel forms, and the
# `treeAggregate` sites of the PSVM solver and trainer (Ipm.scala,
# IcfSvm.scala), and in LibSvmIO.scala the parsers that take a whole
# LIBSVM line as a `String` and the `split(` sites (one byte scanner,
# `LibSvmLine`, reads every line), the scratch-path cleanups of
# src/main: `deleteOnExit` calls, JVM shutdown hooks and the ad hoc
# temp-dir cleanup helpers (`graft.Scratch` owns every scratch path),
# and, over the PSVM passes (Icf.scala, Ipm.scala, IcfSvm.scala and the
# block collective Blocks.scala), the `== 1` block-count tests that pick
# a pass loop's form and the in-task twins of the driver loops, and, for
# the query registry (`graft.QuerySpec`), the literal spellings of the
# oracles' placeholder model root (`/tmp/graft_models`) and the
# clear-all-between-queries sites (`getPersistentRDDs`) in src/main.
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
echo "persist_sites[main] $(count '\.persist\(' "$main")"
echo "unpersist_sites[main] $(count '\.unpersist\(' "$main")"
echo "create_temp_directory_sites[main] $(count 'createTempDirectory' "$main")"
echo "create_temp_directory_sites[test] $(count 'createTempDirectory' src/test)"
echo "delete_on_exit_sites $(count 'deleteOnExit' "$main")"
echo "shutdown_hook_sites $(count 'addShutdownHook' "$main")"
echo "scratch_cleanup_helpers $(count 'def (materializeThen|deleteRecursively|materializeAndClean)\b' "$main")"
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
echo "libsvm_string_line_parsers $(count '^  def \w+\(line: String' "$main/graft/ml/LibSvmIO.scala")"
echo "libsvm_split_sites $(count 'split\(' "$main/graft/ml/LibSvmIO.scala")"
psvm=$(ls "$main"/graft/ml/{Icf,Ipm,IcfSvm,Blocks}.scala 2>/dev/null || true)
echo "psvm_block_forks $(count '(getNumPartitions|nBlocks|blockCount\([^)]*\)) == 1\b' $psvm)"
echo "psvm_loop_twins $(count 'def (pivotSegment|newtonSegment|oneBlock)\b' $psvm)"
echo "oracle_root_literals $(count '/tmp/graft_models' "$main")"
echo "query_clear_all_sites $(count 'getPersistentRDDs' "$main")"
