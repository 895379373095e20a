"""Dataflow operators: frontier kernel, politeness scheduler, dedup suite,
similarity search, image pipeline, cuckoo-filter seen store."""
