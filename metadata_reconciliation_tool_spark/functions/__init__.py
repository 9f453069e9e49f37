"""Scalar function layer: normalization, similarity kernels, confidence
formulas. Pure Column expressions wherever Catalyst can express the
semantics; Arrow-batched UDFs for the rest. No per-row Python anywhere."""
