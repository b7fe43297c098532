"""Spark operators, one module each; import them from their module
(``operators.bundles``, ``operators.poi``, ...).  The package root imports
nothing, so a Python worker that folds POI loads only ``operators.poi``
and what it imports."""
