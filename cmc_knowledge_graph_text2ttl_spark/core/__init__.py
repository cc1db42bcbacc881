from .errors import ProcessorException, WorkflowCompileError
from .terms import IriNode, LitNode, XSD

__all__ = [
    "ProcessorException",
    "WorkflowCompileError",
    "IriNode",
    "LitNode",
    "XSD",
]
