"""perfbench: the gp_ann_spark benchmark (see README.md in this directory)."""
