from . import _zipguard  # noqa: F401  (installed on import; see its docstring)
